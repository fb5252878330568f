"""Fault injection for the persisted-store protocol (``sources/store.py``).

Every converged store is built once. Its maintenance operation (a
``compact_*``, an index rewrite, or a meta stamp) is first run to
completion on a copy, which counts the operation's mutating FS steps
(meta writes, deletes, renames, Spark data writes) and yields the
post-operation rows. Then, for every step k, a fresh copy is crashed
right before step k, and the test asserts that

- the store reads exactly the pre-operation rows or exactly the
  post-operation rows, and
- the next call of the operation succeeds, reads the post-operation
  rows, and leaves the same store layout as an uncrashed run (the
  orphans of the crash are swept).
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import gluestick_ts_spark.sources.fs as fs_mod
from gluestick_ts_spark.operators.dedup import (
    compact_fingerprint_store,
    compact_signature_store,
)
from gluestick_ts_spark.operators.rollup import compact_rollup
from gluestick_ts_spark.operators.similarity import (
    compact_ivf_store,
    compact_semantic_store,
)
from gluestick_ts_spark.sources.cdx import compact_cdx_parquet

BASE = "the quick brown fox jumps over the lazy dog and runs far away home tonight"


class _Killed(Exception):
    pass


class _Faults:
    """Counts the mutating FS steps and raises right before step
    ``crash_at`` (None: never)."""

    STEPS = ("write_text_file", "rename_path", "delete_path")

    def __init__(self, monkeypatch, crash_at: int | None):
        self.n = 0
        self.crash_at = crash_at
        for name in self.STEPS:
            monkeypatch.setattr(fs_mod, name, self._wrap(getattr(fs_mod, name)))
        monkeypatch.setattr(
            DataFrameWriter, "parquet", self._wrap(DataFrameWriter.parquet)
        )

    def _wrap(self, fn):
        def step(*args, **kwargs):
            if self.n == self.crash_at:
                raise _Killed(f"crash before step {self.n}")
            self.n += 1
            return fn(*args, **kwargs)

        return step


def _rows(df) -> list[str]:
    return sorted(str(tuple(r)) for r in df.collect())


def _layout(root: str) -> list[str]:
    """Top-level store entries with version numbers masked."""
    names = (n for n in os.listdir(root) if not n.startswith("."))
    return sorted(re.sub(r"_v\d+", "_v#", n) for n in names)


def _data_rows(spark, root, legacy):
    from gluestick_ts_spark.sources.store import Store

    store = Store(root, legacy)
    meta = store.require_meta(spark)
    return _rows(spark.read.parquet(store.data_path(meta)))


def _flat_rows(spark, root, name):
    from gluestick_ts_spark.sources.store import flat_store

    return _rows(spark.read.parquet(flat_store(root, name).locate(spark)[1]))


# --- store builders: (build(spark, root), op(spark, root), read(spark, root))


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, "completely different content about spark engines"),
            (3, "a third page about bucketed joins and partition pruning"),
        ],
        "doc_id long, text string",
    )


def _signature(spark, root):
    from gluestick_ts_spark.operators.dedup import (
        append_signature_store,
        minhash_signatures,
        write_signature_store,
    )

    sigs = minhash_signatures(_docs(spark))
    write_signature_store(sigs, root, num_buckets=4)
    append_signature_store(sigs.limit(1), root)  # crash-window duplicate


def _fingerprint(spark, root):
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        write_fingerprint_store,
    )

    fps = _docs(spark).select(fingerprint_expr("text").alias("fp"))
    write_fingerprint_store(fps, root, num_buckets=4)
    append_fingerprint_store(fps.limit(2), root)


def _vectors(spark):
    return spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i) / 10]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )


def _semantic(spark, root):
    from gluestick_ts_spark.operators.similarity import (
        append_semantic_store,
        semantic_dedup_incremental,
        write_semantic_store,
    )

    write_semantic_store(_vectors(spark), root, n_clusters=3)
    extra = spark.createDataFrame(
        [(100, [-9.0, 4.0, 1.0])], "vec_id long, embedding array<double>"
    )
    _, kept = semantic_dedup_incremental(extra, root, threshold=0.99)
    kept = kept.localCheckpoint(eager=True)
    append_semantic_store(kept, root)
    append_semantic_store(kept, root)


def _ivf(spark, root):
    from gluestick_ts_spark.operators.similarity import append_ivf_store, write_ivf_store

    write_ivf_store(_vectors(spark), root, n_centroids=3)
    append_ivf_store(_vectors(spark).limit(2), root)


def _bm25(spark, root):
    from gluestick_ts_spark.operators.search import write_bm25_index

    write_bm25_index(_docs(spark), root, num_buckets=4)


def _bm25_rewrite(spark, root):
    from gluestick_ts_spark.operators.search import write_bm25_index

    write_bm25_index(_docs(spark).limit(2), root, num_buckets=4)


def _bm25_read(spark, root):
    from gluestick_ts_spark.operators.search import read_bm25_index_meta

    meta = read_bm25_index_meta(spark, root)
    return [str(meta["n_docs"])] + _data_rows(spark, root, "postings")


def _flat(name, rows, schema):
    def build(spark, root):
        # written the way the streaming appenders write: several
        # appends, one of them a crash-window duplicate
        for part in rows:
            spark.createDataFrame(part, schema).write.mode("append").parquet(
                os.path.join(root, name)
            )
        os.makedirs(os.path.join(root, "batches"))
        open(os.path.join(root, "batches", "x-0.done"), "w").write("done")

    return build


def _compact_flat(name, keys):
    def op(spark, root):
        from gluestick_ts_spark.operators.dedup import compact_flat_store

        compact_flat_store(spark, root, name, keys, num_files=1)

    return op


def _compact_counts(spark, root):
    from gluestick_ts_spark.operators.dedup import compact_count_store

    compact_count_store(spark, root, "domains.parquet", ["domain"], num_files=1)


def _cdx(spark, root):
    from gluestick_ts_spark.sources.cdx import (
        CDX_SCHEMA,
        append_cdx_parquet,
        write_cdx_parquet,
    )

    def rec(key, url, off):
        return (key, "20240101000000", url, "text/html", 200, "D", 10, off, 0,
                "f.warc.gz", "response", None)

    idx = spark.createDataFrame(
        [rec("com,a)/x", "http://a.com/x", 0), rec("org,b)/y", "http://b.org/y", 10)],
        CDX_SCHEMA,
    )
    write_cdx_parquet(idx, root)
    append_cdx_parquet(idx.limit(1), root)


def _cdx_read(spark, root):
    """Rows plus file count: compaction keeps the rows and folds the
    files, so the count tells the two versions apart."""
    from gluestick_ts_spark.sources.cdx import read_cdx_parquet

    df = read_cdx_parquet(spark, root)
    return _rows(df) + [f"files={len(df.inputFiles())}"]


def _events(spark):
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1, 22, 0)
    return spark.createDataFrame(
        [
            (i, t0 + timedelta(minutes=17 * i), ["click", "view"][i % 2], float(i))
            for i in range(20)
        ],
        "event_id long, ts timestamp, event_type string, value double",
    )


def _rollup(spark, root):
    from gluestick_ts_spark.operators.rollup import write_rollup_delta

    ev = _events(spark)
    for b in (0, 1):
        write_rollup_delta(
            ev.where(F.col("event_id") % 3 == b), root, "ts", ["event_type"],
            ["value"], scope="q", batch_no=b,
        )
    compact_rollup(spark, root)  # a base to replace
    write_rollup_delta(
        ev.where(F.col("event_id") % 3 == 2), root, "ts", ["event_type"],
        ["value"], scope="q", batch_no=2,
    )


def _rollup_read(spark, root):
    from gluestick_ts_spark.operators.rollup import read_rollup

    df = read_rollup(spark, root, derive_means=False)
    rows = _rows(df.select("bucket_start", "event_type", "cnt", "sum_value"))
    return rows + [f"files={len(df.inputFiles())}"]


def _meta_rows(spark, root, legacy):
    from gluestick_ts_spark.sources.store import Store

    return [json.dumps(Store(root, legacy).require_meta(spark), sort_keys=True)]


def _stamp_signing(spark, root):
    from gluestick_ts_spark.operators.dedup import minhash_signing, stamp_signing

    stamp_signing(spark, root, minhash_signing())


def _stamp_width_fold(spark, root):
    from gluestick_ts_spark.operators.dedup import stamp_width_fold

    stamp_width_fold(spark, root, False)


def _legacy_fingerprint_meta(spark, root):
    """A fingerprint store whose meta predates the width_fold key."""
    from gluestick_ts_spark.sources.store import Store

    _fingerprint(spark, root)
    store = Store(root, "banded")
    meta = store.require_meta(spark)
    del meta["width_fold"]
    store.commit(spark, meta)


def _empty_dir(spark, root):
    os.makedirs(root)


def _sidecar_rows(name):
    def read(spark, root):
        from gluestick_ts_spark.sources.store import read_meta

        return [json.dumps(read_meta(spark, os.path.join(root, name)))]

    return read


def _stamp_media(spark, root):
    from gluestick_ts_spark.operators.imagehash import media_signing, stamp_media_signing

    stamp_media_signing(spark, root, media_signing("dhash"))


STORES = {
    # compaction of every converged store
    "signature": (_signature, compact_signature_store,
                  lambda s, r: _data_rows(s, r, "banded")),
    "fingerprint": (_fingerprint, compact_fingerprint_store,
                    lambda s, r: _data_rows(s, r, "banded")),
    "semantic": (_semantic, compact_semantic_store,
                 lambda s, r: _data_rows(s, r, "clusters")),
    "ivf": (_ivf, compact_ivf_store,
            lambda s, r: _data_rows(s, r, "lists")),
    "bm25": (_bm25, _bm25_rewrite, _bm25_read),
    "urls": (
        _flat("urls.parquet",
              [[("http://a.org/x", 1)], [("http://a.org/x", 1), ("http://b.org/y", 2)]],
              "url_norm string, batch_id long"),
        _compact_flat("urls.parquet", ["url_norm"]),
        lambda s, r: _flat_rows(s, r, "urls.parquet"),
    ),
    "hashes": (
        _flat("hashes.parquet", [[(1, 42, 7)], [(1, 42, 7), (2, 77, 8)]],
              "id long, hash long, batch_id long"),
        _compact_flat("hashes.parquet", ["hash"]),
        lambda s, r: _flat_rows(s, r, "hashes.parquet"),
    ),
    "domains": (
        _flat("domains.parquet", [[("a.org", 2, 100)], [("a.org", 2, 100), ("b.net", 3, 101)]],
              "domain string, cnt long, batch_id long"),
        _compact_counts,
        lambda s, r: _flat_rows(s, r, "domains.parquet"),
    ),
    "cdx": (_cdx, compact_cdx_parquet, _cdx_read),
    "rollup": (_rollup, compact_rollup, _rollup_read),
    # meta commits alone
    "signature_stamp": (_signature, _stamp_signing,
                        lambda s, r: _meta_rows(s, r, "banded")),
    "fingerprint_stamp": (_legacy_fingerprint_meta, _stamp_width_fold,
                          lambda s, r: _meta_rows(s, r, "banded")),
    "flat_signing_sidecar": (_empty_dir, _stamp_signing,
                             _sidecar_rows("flat_signing.json")),
    "media_signing_sidecar": (_empty_dir, _stamp_media,
                              _sidecar_rows("media_signing.json")),
}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_survives_a_crash_at_every_step(spark, tmp_path, monkeypatch, kind):
    build, op, read = STORES[kind]
    template = str(tmp_path / "template")
    build(spark, template)

    def fresh(name):
        root = str(tmp_path / name)
        shutil.copytree(template, root)
        return root

    pre = read(spark, fresh("pre"))
    clean = fresh("clean")
    with monkeypatch.context() as m:
        faults = _Faults(m, crash_at=None)
        op(spark, clean)
    steps = faults.n
    post = read(spark, clean)
    assert post != pre, "the operation must change what the store reads"
    assert steps >= 3, steps

    for k in range(steps):
        root = fresh(f"crash{k}")
        with monkeypatch.context() as m:
            _Faults(m, crash_at=k)
            with pytest.raises(_Killed):
                op(spark, root)
        got = read(spark, root)
        assert got in (pre, post), f"step {k}: read neither pre nor post rows"
        op(spark, root)
        assert read(spark, root) == post, f"step {k}: rerun did not converge"
        assert _layout(root) == _layout(clean), f"step {k}: orphans left"
        shutil.rmtree(root)


def test_read_meta_heals_the_commit_window_and_ignores_a_torn_first_commit(spark, tmp_path):
    """The one crash window of a commit that leaves no meta (deleted,
    tmp not yet renamed) heals on read; a first commit torn mid-write
    reads as no commit at all."""
    from gluestick_ts_spark.sources.store import commit_meta, read_meta

    meta = str(tmp_path / "m.json")
    assert read_meta(spark, meta) is None
    commit_meta(spark, meta, {"version": 3})
    os.rename(meta, meta + ".tmp")
    assert read_meta(spark, meta) == {"version": 3}
    assert os.path.exists(meta) and not os.path.exists(meta + ".tmp")

    torn = str(tmp_path / "t.json")
    with open(torn + ".tmp", "w") as f:
        f.write('{"version": ')
    assert read_meta(spark, torn) is None


def test_legacy_layout_stores_probe_append_and_compact(spark, tmp_path):
    """Stores in the layout written before versioning — meta without a
    ``version`` key, data at the legacy dir name, flat stores without
    any meta — probe, append and compact with no migration step."""
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        append_signature_store,
        compact_fingerprint_store,
        compact_flat_store,
        compact_signature_store,
        dedup_exact_incremental_bucketed,
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        write_fingerprint_store,
        write_signature_store,
    )
    from gluestick_ts_spark.operators.search import (
        append_bm25_index,
        bm25_index_topk,
        bm25_topk,
        write_bm25_index,
    )
    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_store_topk,
        append_ivf_store,
        compact_ivf_store,
        write_ivf_store,
    )
    from gluestick_ts_spark.sources.store import flat_store

    docs = _docs(spark)
    near = spark.createDataFrame(
        [(10, BASE.replace("lazy", "sleepy")), (11, BASE)],
        "doc_id long, text string",
    )

    def legacy(root, data):
        meta = json.load(open(os.path.join(root, "store_meta.json")))
        assert "version" not in meta
        assert os.path.isdir(os.path.join(root, data))

    # signature store
    sig = str(tmp_path / "sig")
    write_signature_store(minhash_signatures(docs), sig, num_buckets=4)
    legacy(sig, "banded")
    fresh = spark.createDataFrame([(20, "an unrelated page about gc")], "doc_id long, text string")
    append_signature_store(minhash_signatures(fresh), sig)
    compact_signature_store(spark, sig)
    assert "banded" not in os.listdir(sig) and "banded_v1" in os.listdir(sig)
    got, _ = dedup_minhash_incremental_bucketed(near.union(fresh), sig, threshold=0.7)
    assert {r.doc_id for r in got.collect()} == set()

    # fingerprint store
    fp = str(tmp_path / "fp")
    write_fingerprint_store(docs.select(fingerprint_expr("text").alias("fp")), fp, num_buckets=4)
    legacy(fp, "banded")
    append_fingerprint_store(fresh.select(fingerprint_expr("text").alias("fp")), fp)
    compact_fingerprint_store(spark, fp)
    assert "banded" not in os.listdir(fp)
    got, _ = dedup_exact_incremental_bucketed(near.union(fresh), fp)
    assert {r.doc_id for r in got.collect()} == {10}

    # BM25 index: append, probe, rewrite
    idx = str(tmp_path / "bm25")
    write_bm25_index(docs, idx, num_buckets=4)
    legacy(idx, "postings")
    append_bm25_index(fresh, idx)
    corpus = docs.union(fresh)
    q = spark.createDataFrame([(1, "spark pages"), (2, "lazy fox")], "query_id long, query_text string")
    key = lambda df: sorted((r.query_id, r.doc_id, r.rank) for r in df.collect())  # noqa: E731
    assert key(bm25_index_topk(q, idx, k=3)) == key(bm25_topk(corpus, q, k=3))
    write_bm25_index(corpus, idx, num_buckets=4)
    assert "postings" not in os.listdir(idx)
    assert key(bm25_index_topk(q, idx, k=3)) == key(bm25_topk(corpus, q, k=3))

    # IVF index
    ivf = str(tmp_path / "ivf")
    write_ivf_store(_vectors(spark), ivf, n_centroids=3)
    legacy(ivf, "lists")
    append_ivf_store(_vectors(spark).limit(2), ivf)
    qv = _vectors(spark).where("vec_id IN (1, 5)")
    before = _rows(ann_ivf_store_topk(qv, ivf, k=3, n_probe=3))
    compact_ivf_store(spark, ivf)
    assert "lists" not in os.listdir(ivf)
    assert _rows(ann_ivf_store_topk(qv, ivf, k=3, n_probe=3)) == before

    # flat store without any meta
    flat = str(tmp_path / "flat")
    spark.createDataFrame(
        [("http://a.org/x", 1), ("http://a.org/x", 2)], "url_norm string, batch_id long"
    ).write.parquet(flat + "/urls.parquet")
    assert flat_store(flat, "urls.parquet").locate(spark)[0] is None
    compact_flat_store(spark, flat, "urls.parquet", ["url_norm"])
    meta, path = flat_store(flat, "urls.parquet").locate(spark)
    assert meta == {"version": 1} and path.endswith("urls.parquet_v1")
    assert _rows(spark.read.parquet(path)) == ["('http://a.org/x',)"]


def test_legacy_flat_store_left_mid_swap_is_refused(spark, tmp_path):
    """An older release's rename-swap compaction that died between its
    renames left the data dir absent and the keys parked in a sibling.
    Reading that store as empty would re-admit every key, so every
    reader and the compactor refuse it with an error."""
    from gluestick_ts_spark.operators.dedup import compact_flat_store
    from gluestick_ts_spark.sources.store import flat_store, open_flat_store

    store = str(tmp_path / "store")
    spark.createDataFrame([("http://a.org/x", 1)], "url_norm string, batch_id long") \
        .write.parquet(store + "/urls.parquet")
    os.rename(store + "/urls.parquet", store + "/urls.parquet.pre-compact")
    with pytest.raises(IOError, match="interrupted compaction"):
        flat_store(store, "urls.parquet").locate(spark)
    with pytest.raises(IOError, match="interrupted compaction"):
        open_flat_store(spark, store, "urls.parquet", "url_norm string, batch_id long")
    with pytest.raises(IOError, match="interrupted compaction"):
        compact_flat_store(spark, store, "urls.parquet", ["url_norm"])
    assert not os.path.exists(store + "/urls.parquet")
    # a store never written is still created empty on first use
    other = str(tmp_path / "other")
    path = open_flat_store(spark, other, "urls.parquet", "url_norm string, batch_id long")
    assert spark.read.parquet(path).count() == 0
