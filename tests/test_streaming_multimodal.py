"""Streaming incremental + multimodal plumbing tests."""

import os

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.operators.multimodal import (
    attach_media_metadata,
    extract_media_features,
    fake_decode_features,
)
from gluestick_ts_spark.operators.snapshot import read_snapshots
from gluestick_ts_spark.streaming.incremental import (
    stream_dedup,
    stream_snapshot_records,
    stream_windowed_counts,
)


def test_multimodal_pipeline(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"hello world")), (2, bytearray(b"")), (3, None)],
        "doc_id long, content binary",
    )
    with_meta = attach_media_metadata(df, media_type="image", fmt="raw")
    out = extract_media_features(with_meta, n_features=4).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["media_meta"]["size_bytes"] == 11
    assert by_id[1]["media_meta"]["media_type"] == "image"
    assert len(by_id[1]["features"]) == 4
    assert by_id[1]["features"] == pytest.approx(fake_decode_features(b"hello world", 4))
    assert by_id[2]["features"] == [0.0] * 4
    assert by_id[3]["features"] == [0.0] * 4


def _write_stream_batch(path, spark, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("append").parquet(path)


def test_stream_snapshot_records(spark, tmp_path):
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string"
    _write_stream_batch(src, spark, [(1, "a"), (2, "b")], schema)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_snapshot_records(stream, "s", snap, pk="id", checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r["v"] for r in read_snapshots(spark, "s", snap).collect()}
    assert got == {1: "a", 2: "b"}

    # second micro-batch updates id=1, adds id=3
    _write_stream_batch(src, spark, [(1, "a2"), (3, "c")], schema)
    q = (
        stream_snapshot_records(stream, "s", snap, pk="id", checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r["v"] for r in read_snapshots(spark, "s", snap).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}


def test_stream_dedup_and_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    schema = "k long, ts timestamp"
    import datetime

    t = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t),
        (1, t),  # duplicate
        (2, t + datetime.timedelta(minutes=5)),
    ]
    _write_stream_batch(src, spark, rows, schema)
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream_dedup(stream, ["k"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    assert sorted(r["k"] for r in got) == [1, 2]

    counts = stream_windowed_counts(stream, "ts", "1 hour", "1 hour", ["k"])
    q2 = (
        counts.writeStream.format("memory")
        .queryName("wc")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # append-mode windows only close past the watermark; with
    # availableNow + bounded input the final watermark may keep the
    # window open — assert the query ran and produced a queryable table.
    assert spark.sql("SELECT * FROM wc").columns == [
        "window_start", "window_end", "k", "cnt",
    ]


def test_resize_media(spark):
    from gluestick_ts_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(256)) * 4)), (2, None)],
        "doc_id long, content binary",
    )
    out = resize_media(
        attach_media_metadata(df, media_type="image", fmt="raw"), width=8, height=8
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id[1]["content"]) == 64
    assert by_id[1]["media_meta"]["width"] == 8
    assert by_id[1]["media_meta"]["height"] == 8
    assert by_id[1]["media_meta"]["size_bytes"] == 64
    assert by_id[2]["content"] == bytearray(b"")


def test_sample_frames(spark):
    from gluestick_ts_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh")), (2, bytearray(b"")), (3, None)],
        "doc_id long, content binary",
    )
    rows = sample_frames(df, n_frames=4).collect()
    frames = sorted((r["doc_id"], r["frame_idx"], bytes(r["frame"])) for r in rows)
    # doc 1: 8 bytes -> 4 frames of 2; docs 2/3: empty payload -> no rows
    assert frames == [
        (1, 0, b"ab"), (1, 1, b"cd"), (1, 2, b"ef"), (1, 3, b"gh"),
    ]
    assert {r["doc_id"] for r in rows} == {1}


def test_stream_sessionize(spark, tmp_path):
    from datetime import datetime

    from gluestick_ts_spark.streaming.incremental import stream_sessionize

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "user_id long, ts timestamp"

    def run_available(batch_rows):
        _write_stream_batch(src, spark, batch_rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        sessions = stream_sessionize(stream, gap_seconds=600, watermark="0 seconds")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out).collect()

    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)
    # user 1: two events 2min apart (one session), then a 30min gap
    # closes it inside the batch when the third event arrives.
    got = run_available([(1, t(0)), (1, t(2)), (1, t(40))])
    assert [(r.user_id, r.n_events) for r in got] == [(1, 2)]
    assert got[0].session_start == t(0) and got[0].session_end == t(2)

    # a much later second batch advances the watermark past the open
    # session's timeout -> the trailing (t(40)) session flushes.
    got2 = run_available([(2, datetime(2024, 1, 1, 12, 0))])
    flushed = [(r.user_id, r.n_events) for r in got2]
    assert (1, 1) in flushed, flushed


def test_stream_dedup_incremental(spark, tmp_path):
    """Streaming fuzzy dedup against a durable signature store: batch 1
    seeds the store; batch 2's near-duplicates of batch 1 are dropped
    while its fresh docs survive and extend the store."""
    from gluestick_ts_spark.streaming.incremental import stream_dedup_incremental

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    import os

    os.makedirs(store, exist_ok=True)

    # batch 1: two distinct docs
    _write_stream_batch(src, spark, [(1, base), (2, "completely different content about spark engines")], schema)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_dedup_incremental(stream, store, emit, threshold=0.7, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert set().union(*emitted.values()) == {1, 2}

    # batch 2: near-dup of doc 1 + a fresh doc
    emitted.clear()
    _write_stream_batch(
        src, spark,
        [(10, base.replace("lazy", "sleepy")), (11, "a genuinely new page about bucketed joins")],
        schema,
    )
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = (
        stream_dedup_incremental(stream2, store, emit, threshold=0.7, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert set().union(*emitted.values()) == {11}  # 10 caught by the store
    sig_ids = {r.id for r in spark.read.parquet(f"{store}/signatures.parquet").collect()}
    assert sig_ids == {1, 2, 11}

    # a flat store whose data dir is gone (e.g. parked aside by an
    # older release's rename-swap compaction that died mid-swap) is
    # refused, never read as empty and re-accepting every stored
    # near-dup
    from pyspark.errors.exceptions.captured import StreamingQueryException

    emitted.clear()
    os.rename(
        f"{store}/signatures.parquet", f"{store}/signatures.parquet.pre-compact"
    )
    _write_stream_batch(
        src, spark, [(20, base.replace("quick", "swift"))], schema
    )

    def run3():
        q3 = (
            stream_dedup_incremental(
                spark.readStream.schema(schema).parquet(src), store, emit,
                threshold=0.7, checkpoint_dir=ckpt,
            )
            .trigger(availableNow=True)
            .start()
        )
        q3.awaitTermination(180)

    with pytest.raises(StreamingQueryException, match="signatures.parquet"):
        run3()
    assert set().union(*emitted.values(), set()) == set()
    # restoring the parked copy resumes the stream against it
    os.rename(
        f"{store}/signatures.parquet.pre-compact", f"{store}/signatures.parquet"
    )
    run3()
    assert set().union(*emitted.values(), set()) == set()  # 20 = stored dup


def test_stream_dedup_incremental_uri_store(spark, tmp_path):
    """The signature store must work behind a filesystem URI (file:/),
    not just a bare driver-local path — regression for the os.path
    existence check that saw every remote store as empty and silently
    re-accepted duplicates batch after batch."""
    from gluestick_ts_spark.sources.fs import hadoop_path_exists, join_uri
    from gluestick_ts_spark.streaming.incremental import stream_dedup_incremental

    src = str(tmp_path / "srcu")
    store_uri = "file://" + str(tmp_path / "storeu")
    ckpt1 = str(tmp_path / "cku1")
    ckpt2 = str(tmp_path / "cku2")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    emitted: set = set()

    def emit(df, batch_id):
        emitted.update(r.doc_id for r in df.collect())

    _write_stream_batch(src, spark, [(1, base)], schema)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_dedup_incremental(stream, store_uri, emit, threshold=0.7, checkpoint_dir=ckpt1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert emitted == {1}
    sig_uri = join_uri(store_uri, "signatures.parquet")
    assert hadoop_path_exists(spark, sig_uri)

    # second batch re-sends doc 1's text under a new id: the URI store
    # must be SEEN (exists check through Hadoop FS) and kill it.
    emitted.clear()
    _write_stream_batch(src, spark, [(10, base), (11, "a brand new doc here")], schema)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = (
        stream_dedup_incremental(stream2, store_uri, emit, threshold=0.7, checkpoint_dir=ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert emitted == {11}, emitted  # 10 deduped against the URI store
    assert {r.id for r in spark.read.parquet(sig_uri).collect()} == {1, 11}


def test_stream_dedup_incremental_bucketed_store(spark, tmp_path):
    """Streaming dedup over the BUCKETED store layout: first batch
    freezes the banding meta and seeds the store; later batches dedup
    against the partition-pruned store and extend it."""
    from gluestick_ts_spark.operators.dedup import read_signature_store_meta
    from gluestick_ts_spark.streaming.incremental import stream_dedup_incremental

    src = str(tmp_path / "srcb")
    store = "file://" + str(tmp_path / "storeb")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    emitted: set = set()

    def emit(df, batch_id):
        emitted.update(r.doc_id for r in df.collect())

    def run(batch_rows, ckpt):
        _write_stream_batch(src, spark, batch_rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_incremental(
                stream, store, emit, threshold=0.7,
                bucketed=True, num_buckets=8,
                checkpoint_dir=str(tmp_path / ckpt),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run([(1, base), (2, "completely different content about spark engines")], "ckb1")
    assert emitted == {1, 2}
    assert read_signature_store_meta(spark, store)["num_buckets"] == 8

    emitted.clear()
    run([(10, base), (11, "a genuinely new page about bucketed joins")], "ckb2")
    assert emitted == {11}, emitted  # 10 deduped against the bucketed store
    stored = spark.read.parquet(store + "/banded")
    assert {r.id for r in stored.select("id").distinct().collect()} == {1, 2, 11}


def test_stream_dedup_bucketed_cjk_route_and_frozen_recipe(spark, tmp_path):
    """Round 15: the bucketed streaming path forwards the cjk routing
    to the store dedup (a zh near-dup is caught ACROSS micro-batches),
    the signing recipe is frozen into the store at seeding, and a
    restart under a different recipe fails the query loudly instead of
    banding incomparable signatures."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import read_signature_store_meta
    from gluestick_ts_spark.streaming.incremental import stream_dedup_incremental

    zh = (
        "我们的朋友不在家里他们有很多事情和我们一起去看那个人的房子这是一个"
        "非常好的地方我们都很喜欢在这里吃饭和说话"
    )
    src = str(tmp_path / "srcz")
    store = "file://" + str(tmp_path / "storez")
    schema = "doc_id long, text string"
    emitted: set = set()

    def emit(df, batch_id):
        emitted.update(r.doc_id for r in df.collect())

    def run(batch_rows, ckpt, **kwargs):
        _write_stream_batch(src, spark, batch_rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_incremental(
                stream, store, emit, threshold=0.7,
                bucketed=True, num_buckets=8,
                checkpoint_dir=str(tmp_path / ckpt),
                **kwargs,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    routed = dict(cjk=is_cjk_doc_expr("text"), cjk_shingle_n=5)
    run([(1, zh), (2, "plain english content about stream stores")], "zk1", **routed)
    assert emitted == {1, 2}
    meta = read_signature_store_meta(spark, store)
    assert meta["signing"]["cjk_routed"] is True
    assert meta["signing"]["cjk_shingle_n"] == 5

    # batch 2: zh near-dup of stored doc 1 — caught only because the
    # bucketed path signs the batch with the SAME routed grain
    emitted.clear()
    run([(10, zh[:-1] + "好"), (11, "another fresh english document here")], "zk2", **routed)
    assert emitted == {11}, emitted

    # restart under a different recipe: the foreachBatch body raises,
    # failing the query, instead of silently banding cross-grain
    with pytest.raises(StreamingQueryException, match="signing recipe"):
        run([(20, "one more unrelated document")], "zk3")


def test_stream_dedup_flat_frozen_recipe(spark, tmp_path):
    """Round 15: the FLAT store layout freezes the signing recipe too
    (a flat_signing.json sidecar, the bucketed meta's twin) — a stream
    restarted unrouted against a routed flat store fails loudly; a
    same-recipe restart resumes fine."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.streaming.incremental import stream_dedup_incremental

    src = str(tmp_path / "srcf")
    store = str(tmp_path / "storef")
    schema = "doc_id long, text string"
    emitted: set = set()

    def emit(df, batch_id):
        emitted.update(r.doc_id for r in df.collect())

    def run(batch_rows, ckpt, **kwargs):
        _write_stream_batch(src, spark, batch_rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_incremental(
                stream, store, emit, threshold=0.7,
                checkpoint_dir=str(tmp_path / ckpt), **kwargs,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    zh = (
        "我们的朋友不在家里他们有很多事情和我们一起去看那个人的房子这是"
        "一个非常好的地方我们都很喜欢在这里吃饭和说话"
    )
    routed = dict(cjk=is_cjk_doc_expr("text"), cjk_shingle_n=5)
    run([(1, zh), (2, "an english page about flat signature stores")],
        "fk1", **routed)
    assert emitted == {1, 2}
    import json as _json

    frozen = _json.loads(open(f"{store}/flat_signing.json").read())
    assert frozen["cjk_routed"] is True
    # same recipe resumes; the routed zh near-dup dies cross-batch
    emitted.clear()
    run([(10, zh[:-1] + "好"), (11, "a different english page entirely")],
        "fk2", **routed)
    assert emitted == {11}, emitted
    # drifted recipe fails the query
    with pytest.raises(StreamingQueryException, match="signing recipe"):
        run([(20, "yet another unrelated document")], "fk3")


def test_fs_helpers(spark, tmp_path):
    """hadoop_path_exists agrees with the local FS for file:/ URIs and
    bare paths; join_uri always joins with '/'."""
    from gluestick_ts_spark.sources.fs import hadoop_path_exists, join_uri

    p = tmp_path / "probe.txt"
    assert not hadoop_path_exists(spark, "file://" + str(p))
    p.write_text("x")
    assert hadoop_path_exists(spark, "file://" + str(p))
    assert hadoop_path_exists(spark, str(p))  # scheme-less -> defaultFS
    assert join_uri("s3a://bucket/dir/", "a", "b.parquet") == "s3a://bucket/dir/a/b.parquet"


def test_stream_corpus_profile(spark, tmp_path):
    """Streaming quality monitor: windowed dataset-card aggregates over
    a micro-batch, complete-mode checkable; dup-rate reflects the
    planted exact duplicate (HLL error is negligible at 4 docs)."""
    import datetime

    from gluestick_ts_spark.streaming.incremental import stream_corpus_profile

    src = str(tmp_path / "psrc")
    schema = "doc_id long, ts timestamp, source string, text string"
    t = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t, "a", "the quick brown fox jumps over the lazy dog"),
        (2, t, "a", "the quick brown fox jumps over the lazy dog"),  # dup of 1
        (3, t, "a", "some completely different words in this one"),
        (4, t, "b", "the cat sat on the mat with a hat"),
    ]
    _write_stream_batch(src, spark, rows, schema)
    stream = spark.readStream.schema(schema).parquet(src)
    prof = stream_corpus_profile(
        stream, "ts", window_duration="1 hour", watermark="1 hour",
        group_cols=["source"],
    )
    q = (
        prof.writeStream.format("memory")
        .queryName("scp")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["source"]: r for r in spark.sql("SELECT * FROM scp").collect()}
    assert got["a"]["n_docs"] == 3 and got["b"]["n_docs"] == 1
    # 3 docs, 2 distinct fingerprints (docs 1/2 identical)
    assert got["a"]["approx_dup_rate"] == pytest.approx(round(1 - 2 / 3, 4), abs=0.02)
    assert got["b"]["approx_dup_rate"] == pytest.approx(0.0, abs=0.02)
    assert 0.0 <= got["a"]["quality_mean"] <= 1.0
    assert set(got["a"].asDict()) == {
        "window_start", "window_end", "source", "n_docs", "n_tokens",
        "quality_mean", "gopher_pass_rate", "approx_dup_rate",
    }


def test_stream_curation_filter_verdicts_and_store(spark, tmp_path):
    """Streaming curation: per-batch verdicts carry first-failing drop
    reasons (gopher / quality / logprob / duplicate), survivors' exact
    fingerprints persist across batches, and a later batch re-sending
    an accepted document is dropped as a duplicate."""
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string"

    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])
    oov = " ".join(stop6 + [f"zz{chr(97 + i % 26)}{i}" for i in range(54)])
    lowq = " ".join(["the", "and"] + [f"plain{chr(97 + i % 24)}{i}" for i in range(48)])
    model = {t: -2.0 for t in good.split()}

    rows: dict[int, dict] = {}

    def emit(df, batch_id):
        for r in df.collect():
            rows[r.doc_id] = {"keep": r.keep, "reason": r.drop_reason}

    import os

    os.makedirs(store, exist_ok=True)
    _write_stream_batch(
        src, spark,
        [(1, good), (2, "tiny doc"), (3, lowq), (4, oov), (5, good)],
        schema,
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_curation_filter(
            stream, store, emit,
            quality_min=0.5, logprob_model=model, logprob_min=-10.0,
            checkpoint_dir=ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert rows[1] == {"keep": True, "reason": None}
    assert rows[2] == {"keep": False, "reason": "gopher"}
    assert rows[3] == {"keep": False, "reason": "quality"}
    assert rows[4] == {"keep": False, "reason": "logprob"}
    assert rows[5] == {"keep": False, "reason": "duplicate"}  # in-batch dup of 1

    # batch 2: re-send of accepted doc 1 -> duplicate via the store
    rows.clear()
    _write_stream_batch(src, spark, [(10, good)], schema)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = (
        stream_curation_filter(
            stream2, store, emit,
            quality_min=0.5, logprob_model=model, logprob_min=-10.0,
            checkpoint_dir=ckpt,
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert rows[10] == {"keep": False, "reason": "duplicate"}
    # bucketed store layout: only doc 1's fingerprint was ever accepted
    from gluestick_ts_spark.operators.dedup import read_signature_store_meta

    assert read_signature_store_meta(spark, store)["num_buckets"] == 256
    stored = spark.read.parquet(f"{store}/banded")
    assert stored.select("fp").distinct().count() == 1
    # every stored row is batch-stamped (the replay-exclusion column)
    assert stored.where(stored.batch_id.isNull()).count() == 0
    # compaction also clears the stale replay markers
    from gluestick_ts_spark.operators.dedup import compact_fingerprint_store
    from gluestick_ts_spark.sources.fs import hadoop_path_exists

    assert hadoop_path_exists(spark, f"{store}/batches")
    compact_fingerprint_store(spark, store)
    assert not hadoop_path_exists(spark, f"{store}/batches")
    # a legacy flat-layout store is rejected, not silently replaced
    import pytest as _p

    legacy = str(tmp_path / "legacy")
    spark.createDataFrame([("aa",)], "fp string").write.parquet(
        f"{legacy}/fingerprints.parquet"
    )
    rows2: dict = {}

    def emit2(df, batch_id):
        for r in df.collect():
            rows2[r.doc_id] = r.keep

    _write_stream_batch(str(tmp_path / "src9"), spark, [(1, good)], schema)
    q9 = (
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(str(tmp_path / "src9")),
            legacy, emit2, checkpoint_dir=str(tmp_path / "ck9"),
        )
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _p.raises(StreamingQueryException, match="legacy flat fingerprint"):
        q9.awaitTermination(120)
        raise AssertionError("legacy store was not rejected")


def test_stream_curation_filter_frozen_cjk_route(spark, tmp_path):
    """Round 15: the curation stream freezes its cjk_route flag into
    the store meta at seeding; a resume under a different flag fails
    loudly (the flag changes CJK verdicts, so a silent flip corrupts
    keep/drop continuity across the round-14 default change)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from gluestick_ts_spark.operators.dedup import read_signature_store_meta
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "csrc")
    store = str(tmp_path / "cstore")
    schema = "doc_id long, text string"
    good = " ".join(
        ["the", "and", "of", "to", "in", "is"]
        + [f"word{chr(97 + i % 26)}{i}" for i in range(54)]
    )

    def emit(df, batch_id):
        df.collect()

    def run(rows, ckpt, **kwargs):
        _write_stream_batch(src, spark, rows, schema)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_curation_filter(
                stream, store, emit, quality_min=0.5,
                checkpoint_dir=str(tmp_path / ckpt), **kwargs,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run([(1, good)], "cck1")  # seeds with the default cjk_route=True
    assert read_signature_store_meta(spark, store)["curation_cjk_route"] is True
    # same flag resumes fine
    run([(2, good + " extra")], "cck2")
    # flipped flag fails the batch instead of silently changing verdicts
    with pytest.raises(StreamingQueryException, match="cjk_route"):
        run([(3, good + " more")], "cck3", cjk_route=False)


def test_stream_curation_filter_license_screen(spark, tmp_path):
    """Round 11: license_screen=True adds the batch pipeline's
    license/copyright stage to the streaming twin at the same priority
    (after duplicate, before gopher): rights-reserved and
    license-less-copyright documents drop with reason 'license',
    permissively-licensed ones pass, and the verdict frame carries the
    four license columns."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, text string"
    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])
    rows: dict[int, dict] = {}

    def emit(df, batch_id):
        for r in df.collect():
            rows[r.doc_id] = {
                "keep": r.keep, "reason": r.drop_reason,
                "name": r.license_name, "ok": r.license_ok,
            }

    os.makedirs(store, exist_ok=True)
    _write_stream_batch(
        src, spark,
        [
            (1, good),
            (2, good + " © 2021 Example Corp. All rights reserved."),
            (3, good + " Licensed under the Apache License, Version 2.0."),
            (4, good + " Copyright (c) 2020 Example Corp."),
        ],
        schema,
    )
    q = (
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(src), store, emit,
            quality_min=0.5, checkpoint_dir=str(tmp_path / "ck"),
            license_screen=True,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert rows[1]["keep"] and rows[1]["reason"] is None
    assert rows[2] == {
        "keep": False, "reason": "license", "name": None, "ok": False
    }
    assert rows[3]["keep"] and rows[3]["name"] == "apache" and rows[3]["ok"]
    assert rows[4] == {
        "keep": False, "reason": "license", "name": None, "ok": False
    }


def test_stream_curation_filter_crash_replay_reemits_survivors(spark, tmp_path):
    """Crash-replay idempotency (the at-least-once gap): after a batch's
    store append commits but before the streaming checkpoint commit, a
    restart replays the batch against a store that already holds its
    own fingerprints. The batch-stamp exclusion must make the replayed
    verdict IDENTICAL — survivors re-emitted as keep=True, not silently
    re-classified duplicate — and the marker must stop a second append."""
    import os
    import shutil

    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string"
    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])

    emitted: list[dict] = []

    def emit(df, batch_id):
        for r in df.collect():
            emitted.append(
                {"doc_id": r.doc_id, "keep": r.keep, "reason": r.drop_reason}
            )

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_curation_filter(
                stream, store, emit, quality_min=0.5, checkpoint_dir=ckpt
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _write_stream_batch(src, spark, [(1, good), (2, "tiny doc")], schema)
    run()
    first = sorted(emitted, key=lambda r: r["doc_id"])
    assert first[0] == {"doc_id": 1, "keep": True, "reason": None}

    # simulate the crash window: the store append + marker committed,
    # the checkpoint commit did not -> Spark will replay batch 0
    commit0 = os.path.join(ckpt, "commits", "0")
    assert os.path.exists(commit0)
    os.remove(commit0)
    # the local FS keeps a sidecar checksum; a stale one makes the
    # replayed commit write believe batch 0 still exists
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    emitted.clear()
    run()
    replayed = sorted(emitted, key=lambda r: r["doc_id"])
    assert replayed == first, replayed  # SAME verdicts, survivor re-emitted
    # marker stopped the double append: still exactly one stored fp row
    stored = spark.read.parquet(f"{store}/banded")
    assert stored.count() == 1

    # a genuinely later batch still dedups against the store
    shutil.rmtree(src)
    emitted.clear()
    _write_stream_batch(src, spark, [(10, good)], schema)
    ck2 = str(tmp_path / "ck2")
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_curation_filter(
            stream, store, emit, quality_min=0.5, checkpoint_dir=ck2
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert emitted == [{"doc_id": 10, "keep": False, "reason": "duplicate"}]


def test_stream_semantic_dedup(spark, tmp_path):
    """Streaming SemDeDup: batch 1 seeds the quantizer and store and
    still catches its own within-batch near-dup; batch 2's near-dup of
    an accepted vector dies against the store while its fresh vector
    survives and extends the store."""
    import random as _r

    from gluestick_ts_spark.streaming.incremental import stream_semantic_dedup

    rng = _r.Random(31)

    def unit(seed_vec=None, eps=0.0):
        v = seed_vec or [rng.gauss(0, 1) for _ in range(16)]
        v = [x + eps for x in v]
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    src = str(tmp_path / "src")
    store = str(tmp_path / "semstore")
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<double>"
    base = [unit() for _ in range(20)]
    verdicts: dict[int, bool] = {}

    def emit(df, batch_id):
        for r in df.collect():
            verdicts[r.vec_id] = r.keep

    import os

    os.makedirs(store, exist_ok=True)
    rows1 = [(i, base[i]) for i in range(20)]
    rows1.append((900, [x + 0.02 for x in base[3]]))  # within-batch near-dup
    _write_stream_batch(src, spark, rows1, schema)
    q = (
        stream_semantic_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            threshold=0.9, n_clusters=4, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert verdicts[3] is True and verdicts[900] is False
    assert sum(verdicts.values()) == 20

    verdicts.clear()
    rows2 = [(1000, [x + 0.02 for x in base[7]]), (2000, unit())]
    _write_stream_batch(src, spark, rows2, schema)
    q2 = (
        stream_semantic_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            threshold=0.9, n_clusters=4, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert verdicts == {1000: False, 2000: True}


def test_session_window_counts_matches_custom_sessionizer(spark, tmp_path):
    """The native session_window variant must produce the same closed
    sessions (bounds + counts) as the applyInPandasWithState
    sessionizer for the same gap — run on batch data where both are
    total."""
    from gluestick_ts_spark.streaming.incremental import (
        stream_session_window_counts,
        stream_sessionize,
    )

    schema = "user_id long, ts timestamp"
    rows = []
    base = "2024-03-01 "
    for u, times in {
        1: ["10:00:00", "10:10:00", "11:30:00", "11:40:00"],
        2: ["09:00:00", "09:20:00"],
    }.items():
        rows.extend((u, base + t) for t in times)
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    # native path on batch data (watermark is a no-op)
    native = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in stream_session_window_counts(df, gap="30 minutes").collect()
    }
    assert native == {
        (1, "2024-03-01 10:00:00", 2),
        (1, "2024-03-01 11:30:00", 2),
        (2, "2024-03-01 09:00:00", 2),
    }
    # custom stateful path through a real stream; all sessions flush
    # once the trailing batch's watermark passes their timeout
    src = str(tmp_path / "src")
    df.write.parquet(src)
    late = spark.createDataFrame(
        [(99, base + "23:00:00")], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got: set = set()

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_sessionize(stream, gap_seconds=1800)
            .writeStream.foreachBatch(
                lambda b, i: got.update(
                    (r.user_id, str(r.session_start), r.n_events)
                    for r in b.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    late.write.mode("append").parquet(src)
    run()
    assert {s for s in native} <= got


def test_stream_expectations(spark, tmp_path):
    """Streaming DQ monitor: the batch constraints reported per
    event-time window; unique violations via approx distinct (exact at
    this cardinality); batch gate and stream agree on the same rows."""
    import datetime

    from gluestick_ts_spark.operators.expectations import (
        check_expectations,
        expect_not_null,
        expect_quantile,
        expect_range,
        expect_unique,
    )
    from gluestick_ts_spark.streaming.incremental import stream_expectations

    src = str(tmp_path / "dqsrc")
    schema = "id long, ts timestamp, amount double"
    t = datetime.datetime(2024, 1, 1, 0, 30, 0)
    rows = [
        (1, t, 10.0),
        (2, t, 150.0),       # range violation
        (2, t, 50.0),        # duplicate id
        (None, t, 7.0),      # null id
    ]
    _write_stream_batch(src, spark, rows, schema)
    stream = spark.readStream.schema(schema).parquet(src)
    rules = [
        expect_not_null("id"),
        expect_unique("id"),
        expect_range("amount", 0.0, 100.0),
        # dataset-level quantile gate in its streaming (approx-sketch)
        # form: median of [7, 10, 50, 150] is in band -> 0 violations
        expect_quantile("amount", 0.5, 5.0, 100.0),
    ]
    rep = stream_expectations(
        stream, "ts", rules, window_duration="1 hour", watermark="1 hour"
    )
    q = (
        rep.writeStream.format("memory")
        .queryName("sdq")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["constraint"]: r for r in spark.sql("SELECT * FROM sdq").collect()}
    assert got["not_null(id)"]["violations"] == 1
    assert got["unique(id)"]["violations"] == 1  # HLL exact at 3 keys
    assert got["range(amount)"]["violations"] == 1
    assert got["quantile(amount,0.5)"]["violations"] == 0
    assert got["quantile(amount,0.5)"]["passed"] is True
    assert all(r["total"] == 4 for r in got.values())
    assert all(
        r["passed"] is False
        for k, r in got.items()
        if not k.startswith("quantile")
    )
    assert str(got["not_null(id)"]["window_start"]) == "2024-01-01 00:00:00"
    # stream and batch gate agree constraint-for-constraint here
    batch_rep = {
        r.constraint: r.violations
        for r in check_expectations(
            spark.createDataFrame(rows, schema), rules
        ).collect()
    }
    assert batch_rep == {k: v["violations"] for k, v in got.items()}


def test_stream_drift(spark, tmp_path):
    """Streaming PSI monitor: reference histogram frozen into the
    plan; a matching window scores ~0, a skewed window exceeds the
    0.25 'shifted' threshold and names the top-drifting category; a
    reference-unseen value surfaces through <OTHER>."""
    import datetime
    import math

    from gluestick_ts_spark.streaming.incremental import stream_drift

    ref = spark.createDataFrame(
        [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 10, "lang string"
    )
    src = str(tmp_path / "drsrc")
    schema = "id long, ts timestamp, lang string"
    t1 = datetime.datetime(2024, 1, 1, 0, 30)
    t2 = datetime.datetime(2024, 1, 1, 1, 30)
    t3 = datetime.datetime(2024, 1, 1, 2, 30)
    rows = (
        [(1, t1, "a")] * 6 + [(2, t1, "b")] * 3 + [(3, t1, "c")]      # matches ref
        + [(4, t2, "b")] * 10                                          # all-b window
        + [(5, t3, "zz")] * 10                                         # unseen value
    )
    _write_stream_batch(src, spark, rows, schema)
    rep = stream_drift(
        spark.readStream.schema(schema).parquet(src), "ts", "lang", ref,
        window_duration="1 hour", watermark="1 hour",
    )
    q = (
        rep.writeStream.format("memory")
        .queryName("sdrift")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.window_start.hour: r for r in spark.sql("SELECT * FROM sdrift").collect()}
    assert got[0].psi == pytest.approx(0.0, abs=1e-6)
    # the top PSI contributor in the all-b window is the VANISHED
    # majority category a ((eps-0.6)ln(eps/0.6) ≈ 7.98), not b itself
    assert got[1].psi > 0.25 and got[1].top_drift_bucket == "a"
    assert got[2].psi > 0.25 and got[2].top_drift_bucket == "<OTHER>"
    assert got[0].n == 10 and got[1].n == 10
    # hand-check the all-b window's PSI against the batch formula
    import gluestick_ts_spark as gs
    eps = 1e-6
    exp = sum(
        (pc - pr) * math.log(pc / pr)
        for pc, pr in [(eps, 0.6), (1.0, 0.3), (eps, 0.1), (eps, eps)]
    )
    assert got[1].psi == pytest.approx(round(exp, 6), abs=1e-6)
    with pytest.raises(ValueError, match="max_categories"):
        stream_drift(
            spark.readStream.schema(schema).parquet(src), "ts", "lang",
            spark.range(50).select(F.col("id").cast("string").alias("lang")),
            max_categories=10,
        )


def test_stream_expectations_group_cols(spark, tmp_path):
    """Slice columns partition the report: violations attribute to
    their slice, and each (window, slice) carries its own total."""
    import datetime

    from gluestick_ts_spark.operators.expectations import expect_not_null
    from gluestick_ts_spark.streaming.incremental import stream_expectations

    src = str(tmp_path / "dqg")
    schema = "id long, ts timestamp, src string"
    t = datetime.datetime(2024, 1, 1, 0, 30)
    rows = [(1, t, "a"), (None, t, "a"), (2, t, "b")]
    _write_stream_batch(src, spark, rows, schema)
    rep = stream_expectations(
        spark.readStream.schema(schema).parquet(src), "ts",
        [expect_not_null("id")], window_duration="1 hour",
        watermark="1 hour", group_cols=["src"],
    )
    q = (
        rep.writeStream.format("memory").queryName("sdqg")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.src: (r.violations, r.total, r.passed)
           for r in spark.sql("SELECT * FROM sdqg").collect()}
    assert got == {"a": (1, 2, False), "b": (0, 1, True)}


def test_stream_dsir_filter_matches_batch_and_is_stateless(spark, tmp_path):
    """The streaming DSIR twin must (1) score each arriving doc
    exactly as the batch expression does against the same frozen
    histograms, (2) drop rows below the frozen threshold, and (3) be a
    stateless projection — a second availableNow run over extra input
    re-emits purely from the new files."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.dsir import (
        dsir_logweight_expr,
        gram_bucket_histograms,
    )
    from gluestick_ts_spark.streaming.incremental import stream_dsir_filter

    ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw_h, tgt_h = gram_bucket_histograms(ref, F.col("lang") == "en")

    src = str(tmp_path / "src")
    schema = "doc_id long, text string, lang string"
    batch1 = [(r.doc_id, r.text, r.lang) for r in ref.limit(20).collect()]
    _write_stream_batch(src, spark, batch1, schema)

    stream = spark.readStream.schema(schema).parquet(src)
    scored = stream_dsir_filter(stream, raw_h, tgt_h)
    q = (
        scored.writeStream.format("memory")
        .queryName("dsir_scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.dsir_logw
        for r in spark.sql("SELECT * FROM dsir_scored").collect()
    }
    expect = {
        r.doc_id: r.lw
        for r in ref.limit(20)
        .select(
            "doc_id",
            dsir_logweight_expr(F.col("text"), raw_h, tgt_h).alias("lw"),
        )
        .collect()
    }
    assert got == expect and len(got) == 20

    # threshold filtering: only rows at/above the frozen cut survive
    cut = sorted(expect.values())[len(expect) // 2]
    filt = stream_dsir_filter(
        spark.readStream.schema(schema).parquet(src), raw_h, tgt_h,
        min_logw=cut,
    )
    q2 = (
        filt.writeStream.format("memory")
        .queryName("dsir_filtered")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    kept = {r.doc_id for r in spark.sql("SELECT * FROM dsir_filtered").collect()}
    assert kept == {k for k, v in expect.items() if v >= cut}


def test_stream_curation_filter_url_blocklist(spark, tmp_path):
    """Streaming URL-blocklist screen (round 11): blocked docs get the
    top-priority 'blocked' reason (outranking 'duplicate' like the
    batch pipeline), never enter the fingerprint store, and a clean
    re-send of a blocked duplicate still dies as blocked."""
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string, url string"

    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])

    rows: dict[int, dict] = {}

    def emit(df, batch_id):
        for r in df.collect():
            rows[r.doc_id] = {
                "keep": r.keep, "reason": r.drop_reason, "bl": r.blocklist_ok,
            }

    import os

    os.makedirs(store, exist_ok=True)
    _write_stream_batch(
        src, spark,
        [
            (1, good, "http://clean.example.org/a"),
            # same TEXT as 1 (an exact dup) on a blocked subdomain:
            # 'blocked' must outrank 'duplicate'
            (2, good, "http://ads.tracker-farm.example/b"),
            (3, good + " extra", "http://sub.tracker-farm.example/c"),
        ],
        schema,
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_curation_filter(
            stream, store, emit,
            quality_min=0.0, checkpoint_dir=ckpt,
            url_col="url", blocklist=("tracker-farm.example",),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert rows[1] == {"keep": True, "reason": None, "bl": True}
    assert rows[2] == {"keep": False, "reason": "blocked", "bl": False}
    assert rows[3] == {"keep": False, "reason": "blocked", "bl": False}

    # batch 2: doc 3's TEXT re-sent from a clean domain — it never
    # entered the store (blocked rows aren't appended), so it keeps
    rows.clear()
    _write_stream_batch(
        src, spark, [(4, good + " extra", "http://clean2.example.org/d")],
        schema,
    )
    q2 = (
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(src), store, emit,
            quality_min=0.0, checkpoint_dir=ckpt,
            url_col="url", blocklist=("tracker-farm.example",),
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert rows[4] == {"keep": True, "reason": None, "bl": True}


def test_stream_curation_filter_domain_rank_annotate(spark, tmp_path):
    """Round 15: the frozen domain-authority artifact annotates every
    verdict row with ``domain_rank`` via the URL's eTLD+1 — equal to
    the batch attach_domain_rank over the same rows (stream == batch),
    unranked domains 0.0, verdicts untouched; domain_ranks without
    url_col is rejected up front."""
    from gluestick_ts_spark.operators.linkgraph import attach_domain_rank
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string, url string"
    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])
    # rank keys live at the eTLD+1 grain (the edge-list grain):
    # www./subdomain labels and URL case must collapse onto them
    ranks = [("alpha-site.org", 0.25), ("gamma-site.net", 0.5)]
    batch_rows = [
        (1, good, "http://www.alpha-site.org/a"),
        (2, good + " extra", "http://unranked-site.com/b"),
        (3, good + " more", "HTTP://SUB.GAMMA-SITE.NET/c?x=1"),
    ]

    got: dict[int, tuple] = {}

    def emit(df, batch_id):
        for r in df.collect():
            got[r.doc_id] = (r.domain_rank, r.keep)

    _write_stream_batch(src, spark, batch_rows, schema)
    q = (
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(src), store, emit,
            quality_min=0.0, checkpoint_dir=ckpt,
            url_col="url", domain_ranks=ranks,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert got[1] == (0.25, True)
    assert got[2] == (0.0, True)   # unranked -> default, verdict intact
    assert got[3] == (0.5, True)   # case/www-insensitive eTLD+1 grain
    # stream == batch: the batch-side attach over the same rows agrees
    b = attach_domain_rank(
        spark.createDataFrame(batch_rows, schema),
        spark.createDataFrame(ranks, "node string, rank double"),
        "url",
    )
    assert {r.doc_id: r.domain_rank for r in b.collect()} == {
        k: v[0] for k, v in got.items()
    }
    with pytest.raises(ValueError, match="requires url_col"):
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(src), store, emit,
            domain_ranks=ranks,
        )


def test_stream_curation_filter_robots(spark, tmp_path):
    """Streaming robots screen (round 11): RFC verdicts per micro-batch
    at the batch pipeline's priority (blocked > robots > duplicate),
    stateless, in-row compiled from a local rule list."""
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, text string, url string"
    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])

    rows: dict = {}

    def emit(df, batch_id):
        for r in df.collect():
            rows[r.doc_id] = (r.keep, r.drop_reason, r.robots_ok)

    import os

    os.makedirs(store, exist_ok=True)
    _write_stream_batch(
        src, spark,
        [
            (1, good, "http://site.example/ok/page"),
            (2, good + " x", "http://site.example/private/p"),     # robots
            (3, good + " y", "http://ads.bad.example/private/p"),  # blocked wins
        ],
        schema,
    )
    q = (
        stream_curation_filter(
            spark.readStream.schema(schema).parquet(src), store, emit,
            quality_min=0.0, checkpoint_dir=ckpt,
            url_col="url", blocklist=("bad.example",),
            robots=[("site.example", "User-agent: *\nDisallow: /private/")],
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert rows[1] == (True, None, True)
    assert rows[2] == (False, "robots", False)
    assert rows[3][0:2] == (False, "blocked")  # blocked outranks robots


def test_stream_curation_domain_rank_sig_provenance(spark, tmp_path, caplog):
    """Round 16 (VERDICT #7): the rank snapshot's identity (row count +
    checksum) is frozen into the store meta at seeding; a resume under
    a DIFFERENT snapshot warns (annotate-only — verdicts don't depend
    on ranks, so a legitimate monthly swap proceeds, visibly); an
    identical-snapshot resume is silent; a no-ranks store freezes
    None."""
    import json as _json
    import logging as _logging

    from gluestick_ts_spark.operators.dedup import read_signature_store_meta
    from gluestick_ts_spark.streaming.incremental import stream_curation_filter

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, text string, url string"
    stop6 = ["the", "and", "of", "to", "in", "is"]
    good = " ".join(stop6 + [f"word{chr(97 + i % 26)}{i}" for i in range(54)])
    ranks = [("alpha-site.org", 0.25), ("gamma-site.net", 0.5)]

    def run(ck, rows, rk):
        _write_stream_batch(src, spark, rows, schema)
        q = (
            stream_curation_filter(
                spark.readStream.schema(schema).parquet(src), store,
                lambda df, b: df.collect(), quality_min=0.0,
                checkpoint_dir=str(tmp_path / ck), url_col="url",
                domain_ranks=rk,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None, q.exception()

    run("ck1", [(1, good, "http://www.alpha-site.org/a")], ranks)
    meta = read_signature_store_meta(spark, "file://" + store)
    sig = meta["domain_rank_sig"]
    assert sig["rows"] == 2 and isinstance(sig["checksum"], int)

    # identical snapshot: silent
    logger = "gluestick_ts_spark.streaming.incremental"
    with caplog.at_level(_logging.WARNING, logger):
        run("ck2", [(2, good, "http://unranked.com/b")], list(ranks))
    assert not [r for r in caplog.records if "domain_ranks" in r.message]

    # drifted snapshot: warns, proceeds, meta keeps the SEED sig
    caplog.clear()
    with caplog.at_level(_logging.WARNING, logger):
        run("ck3", [(3, good, "http://unranked.com/c")],
            ranks + [("delta-site.io", 0.75)])
    warns = [r for r in caplog.records if "domain_ranks snapshot" in r.message]
    assert warns, [r.message for r in caplog.records]
    assert read_signature_store_meta(spark, "file://" + store)[
        "domain_rank_sig"
    ] == sig
