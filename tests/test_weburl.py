"""URL-grain dedup + per-domain caps (operators/weburl.py) — the
RefinedWeb first-stage operators: normalization algebra, keep-first
semantics, deterministic seeded caps, partitioning invariance."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.operators.weburl import (
    domain_cap_flag,
    normalize_url_expr,
    registered_domain_expr,
    url_dedup,
    url_dedup_flag,
)


def _flat_data_dir(spark, store_dir, name):
    """A flat store's current data dir, resolved through its meta."""
    from gluestick_ts_spark.sources.store import flat_store

    return flat_store(store_dir, name).locate(spark)[1]


def _norm(spark, urls):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, u string")
    rows = df.select(
        "i",
        normalize_url_expr("u").alias("n"),
        registered_domain_expr("u").alias("d"),
    ).collect()
    return {urls[r.i]: (r.n, r.d) for r in rows}


def test_normalize_url_cases(spark):
    got = _norm(
        spark,
        [
            "HTTP://WWW.Example.COM:80/Path/?utm_source=x&id=2&utm_campaign=y#frag",
            "https://sub.Example.org:443/a/b/",
            "http://user:pw@Example.net:8080/x?fbclid=abc",
            "http://example.com/Path?utm_source=x",
            "http://example.com/a?utm_a=1&utm_b=2&keep=3",
            "http://localhost/x",
            "not a url",
            "  http://example.com/padded  ",
        ],
    )
    assert got[
        "HTTP://WWW.Example.COM:80/Path/?utm_source=x&id=2&utm_campaign=y#frag"
    ] == ("http://example.com/Path/?id=2", "example.com")
    assert got["https://sub.Example.org:443/a/b/"] == (
        "https://sub.example.org/a/b",
        "example.org",
    )
    # non-default port kept; userinfo kept in the key but not the domain
    assert got["http://user:pw@Example.net:8080/x?fbclid=abc"] == (
        "http://user:pw@example.net:8080/x",
        "example.net",
    )
    assert got["http://example.com/Path?utm_source=x"][0] == "http://example.com/Path"
    assert got["http://example.com/a?utm_a=1&utm_b=2&keep=3"][0] == (
        "http://example.com/a?keep=3"
    )
    # single-label host falls back to itself
    assert got["http://localhost/x"] == ("http://localhost/x", "localhost")
    # non-URL degrades gracefully: passthrough key, empty domain
    assert got["not a url"] == ("not a url", "")
    assert got["  http://example.com/padded  "][0] == "http://example.com/padded"


def test_url_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [
            (3, "http://A.com/x?utm_source=a"),
            (1, "HTTP://a.COM/x"),
            (2, "http://www.a.com/x#frag"),
            (4, "http://a.com/y"),
        ],
        "doc_id long, url string",
    )
    flags = {r.doc_id: r.url_keep for r in url_dedup_flag(df, "url", "doc_id").collect()}
    # 1, 2, 3 normalize identically -> lowest id (1) survives
    assert flags == {1: True, 2: False, 3: False, 4: True}
    survivors = {r.doc_id for r in url_dedup(df, "url", "doc_id").collect()}
    assert survivors == {1, 4}


def test_domain_cap_deterministic_and_seeded(spark):
    df = spark.createDataFrame(
        [(i, f"http://h{i % 4}.site{i % 2}.org/p/{i}") for i in range(40)],
        "doc_id long, url string",
    )
    kept = lambda seed, parts=4: {
        r.doc_id
        for r in domain_cap_flag(
            df.repartition(parts), "url", "doc_id", cap=5, seed=seed
        ).collect()
        if r.domain_keep
    }
    a, b = kept(1), kept(1)
    assert a == b and len(a) == 10  # 2 domains x cap 5
    assert kept(1, parts=13) == a  # partitioning-invariant
    assert kept(2) != a  # fresh seed = fresh subset
    # the pick IS md5('<seed>:' || id) order per domain
    by_dom = {0: [], 1: []}
    for i in range(40):
        by_dom[i % 2].append(i)
    expect = set()
    for dom, ids in by_dom.items():
        ids.sort(key=lambda i: hashlib.md5(f"1:{i}".encode()).hexdigest())
        expect.update(ids[:5])
    assert a == expect


def test_null_url_semantics(spark):
    """NULL urls are identity-less: they never dedup against each other
    (all keep), never count against a domain cap, survive the
    incremental anti-join, and are not stored as keys."""
    from gluestick_ts_spark.operators.weburl import url_dedup_incremental

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "http://a.org/x"), (4, "http://a.org/x")],
        "doc_id long, url string",
    )
    flags = {r.doc_id: r.url_keep for r in url_dedup_flag(df, "url", "doc_id").collect()}
    assert flags == {1: True, 2: True, 3: True, 4: False}
    caps = {
        r.doc_id: r.domain_keep
        for r in domain_cap_flag(df, "url", "doc_id", cap=1).collect()
    }
    assert caps[1] and caps[2]  # unattributable rows never capped
    store = spark.createDataFrame([("http://a.org/x",)], "url_norm string")
    s, k = url_dedup_incremental(df, store)
    assert {r.doc_id for r in s.collect()} == {1, 2}  # 3/4 caught/merged
    assert k.count() == 0  # NULL keys never stored


def test_domain_cap_validation_and_columns(spark):
    df = spark.createDataFrame([(1, "http://a.b.org/x")], "doc_id long, url string")
    with pytest.raises(ValueError):
        domain_cap_flag(df, cap=0)
    row = domain_cap_flag(
        df, "url", "doc_id", cap=1, domain_col="dom", rank_col="rk"
    ).first()
    assert row.dom == "b.org" and row.rk == 1 and row.domain_keep


def test_url_dedup_incremental(spark):
    """Cross-batch form: within-batch keep-first, then anti-join vs the
    stored normalized keys; survivors' keys extend the store."""
    from gluestick_ts_spark.operators.weburl import url_dedup_incremental

    b1 = spark.createDataFrame(
        [(1, "http://a.org/x"), (2, "HTTP://WWW.A.ORG/x?utm_source=f"), (3, "http://b.org/y")],
        "doc_id long, url string",
    )
    store = spark.createDataFrame([], "url_norm string")
    s1, k1 = url_dedup_incremental(b1, store)
    assert {r.doc_id for r in s1.collect()} == {1, 3}  # 2 = within-batch re-crawl
    store = store.unionByName(k1)

    b2 = spark.createDataFrame(
        [(10, "https://a.org:443/x".replace("https", "http")),  # re-crawl of 1
         (11, "http://c.org/z")],
        "doc_id long, url string",
    )
    s2, k2 = url_dedup_incremental(b2, store)
    assert {r.doc_id for r in s2.collect()} == {11}
    assert {r.url_norm for r in k2.collect()} == {"http://c.org/z"}


def test_stream_url_dedup(spark, tmp_path):
    """Streaming twin: batch 1 seeds the URL store; batch 2's re-crawls
    (case/www/params variants) are dropped while fresh URLs survive and
    extend the store."""
    from gluestick_ts_spark.streaming.incremental import stream_url_dedup

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, url string"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    import os

    os.makedirs(store, exist_ok=True)

    def _write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    _write_batch([(1, "http://site.org/a"), (2, "http://other.net/b")])
    q = (
        stream_url_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert set().union(*emitted.values()) == {1, 2}

    emitted.clear()
    _write_batch([
        (10, "HTTP://WWW.Site.ORG/a?utm_source=x"),  # re-crawl of 1
        (11, "http://fresh.io/c"),
    ])
    q2 = (
        stream_url_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert set().union(*emitted.values()) == {11}
    stored = {r.url_norm for r in spark.read.parquet(f"{store}/urls.parquet").collect()}
    assert stored == {
        "http://site.org/a", "http://other.net/b", "http://fresh.io/c"
    }


def test_stream_url_dedup_survives_crashed_compaction(spark, tmp_path, monkeypatch):
    """END-TO-END crashed-compaction durability: a compaction that dies
    after writing its new version but before committing the meta
    leaves the previous version live — the next STREAM batch still
    rejects previously-seen URLs, and the next compaction sweeps the
    orphaned version."""
    import os
    import shutil

    import gluestick_ts_spark.sources.store as store_mod
    from gluestick_ts_spark.operators.dedup import compact_flat_store
    from gluestick_ts_spark.streaming.incremental import stream_url_dedup

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, url string"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)

    def run():
        q = (
            stream_url_dedup(
                spark.readStream.schema(schema).parquet(src), store, emit,
                checkpoint_dir=str(tmp_path / "ck"),
            ).trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(
        [(1, "http://seen.org/a"), (2, "http://seen.org/b")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert set().union(*emitted.values()) == {1, 2}

    # kill a compaction at its commit: the new version is written but
    # the meta never names it
    def crash(*_a, **_k):
        raise RuntimeError("killed")

    with monkeypatch.context() as m:
        m.setattr(store_mod, "commit_meta", crash)
        with pytest.raises(RuntimeError, match="killed"):
            compact_flat_store(spark, store, "urls.parquet", ["url_norm"])
    assert os.path.isdir(f"{store}/urls.parquet_v1")  # the orphan

    emitted.clear()
    spark.createDataFrame(
        [(10, "HTTP://WWW.Seen.ORG/a?utm_source=x"),  # re-crawl of 1
         (11, "http://fresh.io/c")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    # the re-crawl is REJECTED against the live version, the fresh
    # URL survives
    assert set().union(*emitted.values()) == {11}
    compact_flat_store(spark, store, "urls.parquet", ["url_norm"])
    assert sorted(n for n in os.listdir(store) if n.startswith("urls")) == [
        "urls.parquet.meta.json", "urls.parquet_v1",
    ]
    stored = {
        r.url_norm
        for r in spark.read.parquet(f"{store}/urls.parquet_v1").collect()
    }
    assert stored == {
        "http://seen.org/a", "http://seen.org/b", "http://fresh.io/c"
    }
    shutil.rmtree(str(tmp_path / "ck"), ignore_errors=True)


def test_stream_url_dedup_crash_replay(spark, tmp_path):
    """Crash window: store append + marker committed but the streaming
    checkpoint commit lost -> the batch replays against the store state
    the first attempt saw (its own stamped keys excluded) and re-emits
    the SAME survivors instead of dropping them as self-duplicates."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_url_dedup

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, url string"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)
    spark.createDataFrame(
        [(1, "http://a.org/p"), (2, "http://b.org/q")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = (
        stream_url_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=ckpt,
        ).trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert set().union(*emitted.values()) == {1, 2}

    # simulate the crash: drop the checkpoint commit (and its local-FS
    # .crc shadow) so Spark replays batch 0 against the mutated store
    commit0 = os.path.join(ckpt, "commits", "0")
    os.remove(commit0)
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    emitted.clear()
    q2 = (
        stream_url_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=ckpt,
        ).trigger(availableNow=True).start()
    )
    q2.awaitTermination(180)
    assert set().union(*emitted.values()) == {1, 2}  # re-emitted, not self-dup'd
    stored = [
        r.url_norm
        for r in spark.read.parquet(f"{store}/urls.parquet").collect()
    ]
    # the re-append is allowed (presence semantics); the KEY SET converges
    assert set(stored) == {"http://a.org/p", "http://b.org/q"}


def test_normalize_url_idempotent_battery(spark):
    """normalize(normalize(u)) == normalize(u) over a seeded battery of
    URL-ish strings (schemes x cases x ports x params x fragments x
    trailing slashes + junk) — a canonicalization that keeps moving on
    re-application would make incremental URL stores self-inconsistent.
    One Spark job for the whole battery."""
    import random

    rng = random.Random(42)
    schemes = ["http://", "HTTPS://", "ftp://", ""]
    hosts = ["WWW.Ex.COM", "a.b.ORG", "x.io:443", "h.net:8080", "solo"]
    paths = ["", "/", "/a/b", "/a/b/", "/A%20b"]
    qs = ["", "?x=1", "?utm_source=a", "?utm_a=1&b=2&utm_c=3#f", "#frag", "?a=1&"]
    urls = ["not a url", "://broken", " spaced out "]
    for _ in range(200):
        urls.append(
            rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths) + rng.choice(qs)
        )
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, u string")
    once = normalize_url_expr("u")
    rows = df.select(
        once.alias("n1"),
        normalize_url_expr(normalize_url_expr("u")).alias("n2"),
    ).collect()
    bad = [(r.n1, r.n2) for r in rows if r.n1 != r.n2]
    assert bad == [], bad[:5]


def test_url_stage_plan_shape(spark):
    """Scale gate: the two weburl windows shuffle on the SHORT derived
    keys (normalized url / domain), never on a text column, with no
    Python operators and no cartesian product."""
    import re

    df = spark.createDataFrame(
        [(i, f"http://h{i}.org/{i}", "t" * 50) for i in range(10)],
        "doc_id long, url string, text string",
    )
    out = domain_cap_flag(url_dedup_flag(df, "url", "doc_id"), "url", "doc_id")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    hashed = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert hashed and all("text" not in h for h in hashed), hashed


def test_compact_flat_store(spark, tmp_path):
    """Flat-store maintenance: crash-window duplicate keys are
    reclaimed, the stale batch_id column and replay markers drop, part
    files coalesce, and the screen still works against the compacted
    store."""
    import os

    from gluestick_ts_spark.operators.dedup import compact_flat_store
    from gluestick_ts_spark.operators.weburl import url_dedup_incremental

    store = str(tmp_path / "store")
    os.makedirs(f"{store}/batches")
    open(f"{store}/batches/x-0.done", "w").write("done")
    # simulate two appends incl. a crash-window duplicate
    for batch in ([("http://a.org/x", 1)], [("http://a.org/x", 1), ("http://b.org/y", 2)]):
        spark.createDataFrame(batch, "url_norm string, batch_id long") \
            .write.mode("append").parquet(f"{store}/urls.parquet")
    assert spark.read.parquet(f"{store}/urls.parquet").count() == 3

    compact_flat_store(spark, store, "urls.parquet", ["url_norm"], num_files=1)
    data = _flat_data_dir(spark, store, "urls.parquet")
    compacted = spark.read.parquet(data)
    assert compacted.count() == 2
    assert "batch_id" not in compacted.columns
    assert not os.path.exists(f"{store}/batches")
    parts = [f for f in os.listdir(data) if f.startswith("part-")]
    assert len(parts) == 1

    # the screen still works against the compacted store
    batch = spark.createDataFrame(
        [(7, "HTTP://WWW.A.ORG/x"), (8, "http://c.io/z")], "doc_id long, url string"
    )
    surv, _ = url_dedup_incremental(batch, compacted)
    assert {r.doc_id for r in surv.collect()} == {8}

    # compacting a missing store is a no-op, not an error
    compact_flat_store(spark, str(tmp_path / "nope"), "urls.parquet", ["url_norm"])


def test_registered_domain_psl_etld1(spark):
    """True eTLD+1 against the embedded PSL snapshot: ccSLDs,
    3-label suffixes, wildcard TLDs, the www.ck exception, and the
    private hosting section all resolve at the registrant grain."""
    cases = {
        # 2-label ccSLD: a.co.uk and b.co.uk are SEPARATE registrants
        "http://a.co.uk/x": "a.co.uk",
        "http://deep.sub.b.co.uk/x": "b.co.uk",
        "http://www.example.co.uk/": "example.co.uk",
        # host AT suffix depth has no registrant label -> itself
        "http://co.uk/": "co.uk",
        # 3-label suffix (US school hierarchy)
        "http://school7.k12.ca.us/": "school7.k12.ca.us",
        "http://x.school7.k12.ca.us/": "school7.k12.ca.us",
        # 2-label state suffix
        "http://agency.ca.us/": "agency.ca.us",
        # wildcard TLD *.ck: every 2-label suffix under ck is public
        "http://a.b.ck/": "a.b.ck",
        "http://x.a.b.ck/": "a.b.ck",
        # ...except the carved-out exception !www.ck
        "http://www.ck/": "www.ck",
        "http://foo.www.ck/": "www.ck",
        # private hosting section: subdomains are separate registrants
        "http://alice.github.io/p": "alice.github.io",
        "http://bob.github.io/p": "bob.github.io",
        "http://shop.blogspot.com/": "shop.blogspot.com",
        # a literal 'www' REGISTRANT under a multi-label/private suffix
        # must NOT be stripped down to the bare public suffix
        "http://www.blogspot.com/": "www.blogspot.com",
        "http://www.github.io/": "www.github.io",
        "http://www.co.uk/": "www.co.uk",
        "http://www.k12.ca.us/": "www.k12.ca.us",
        "http://www.foo.ck/": "www.foo.ck",  # *.ck: foo.ck is public
        # ...while a www PREFIX over a real registrant still strips
        "http://www.sub.blogspot.com/": "sub.blogspot.com",
        # plain gTLD fallback unchanged
        "http://www.example.com/": "example.com",
        "http://sub.example.org/": "example.org",
    }
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "i long, u string"
    )
    got = {
        r.u: r.d
        for r in df.select("u", registered_domain_expr("u").alias("d")).collect()
    }
    assert got == cases


def test_registered_domain_custom_psl(spark):
    """parse_psl_rules: raw PSL-format lines (comments, wildcards,
    exceptions) feed registered_domain_expr; unsupported shapes fail
    loudly."""
    from gluestick_ts_spark.operators.psl import parse_psl_rules

    tables = parse_psl_rules(
        ["// comment", "", "co.test", "*.wild", "!ok.wild", "plain"]
    )
    assert tables.suffixes_2 == {"co.test"}
    assert tables.wildcard_tlds == {"wild"}
    assert tables.exceptions == {"ok.wild"}
    df = spark.createDataFrame(
        [
            (1, "http://a.co.test/"),
            (2, "http://a.b.wild/"),
            (3, "http://x.ok.wild/"),
            (4, "http://a.co.uk/"),  # NOT in the custom tables
        ],
        "i long, u string",
    )
    got = {
        r.i: r.d
        for r in df.select(
            "i", registered_domain_expr("u", psl=tables).alias("d")
        ).collect()
    }
    assert got == {1: "a.co.test", 2: "a.b.wild", 3: "ok.wild", 4: "co.uk"}
    # shapes beyond the ICANN section's (4+ labels) fail loudly by
    # default; 2-label wildcards / 3-label exceptions ARE supported
    # (round-10 review fix — the real list contains them)
    with pytest.raises(ValueError, match="unsupported"):
        parse_psl_rules(["a.b.c.d"])
    with pytest.raises(ValueError, match="unsupported"):
        parse_psl_rules(["*.three.label.base"])
    with pytest.raises(ValueError, match="unsupported"):
        parse_psl_rules(["!four.label.exception.host"])


def test_domain_cap_psl_independent_ccsld(spark):
    """The r9 gap, closed: one hot .co.uk registrant must exhaust ITS
    OWN cap without starving every other .co.uk site (last-2-labels
    collapsed them all into one 'co.uk' group)."""
    rows = [(i, f"http://a.co.uk/p{i}") for i in range(10)]
    rows += [(100 + i, f"http://b.co.uk/p{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_cap_flag(df, cap=5, domain_col="dom")
    by_dom = {
        d: sorted(r.doc_id for r in rs)
        for d, rs in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: r.dom), key=lambda r: r.dom
        )
    }
    assert set(by_dom) == {"a.co.uk", "b.co.uk"}
    rows_out = out.collect()
    a_kept = sum(r.domain_keep for r in rows_out if r.dom == "a.co.uk")
    b_kept = sum(r.domain_keep for r in rows_out if r.dom == "b.co.uk")
    assert a_kept == 5  # a.co.uk capped at its own budget
    assert b_kept == 3  # b.co.uk UNTOUCHED by a's overflow


def test_stream_domain_caps(spark, tmp_path):
    """Streaming per-domain caps over the durable count store: the
    budget is enforced ACROSS micro-batches (batch 1 spends 2 of
    hot.org's cap=3; batch 2 gets exactly 1 more), NULL-url rows
    always pass, and fresh domains are independent."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_domain_caps

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, url string"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)

    def run():
        q = (
            stream_domain_caps(
                spark.readStream.schema(schema).parquet(src), store, emit,
                cap=3, checkpoint_dir=str(tmp_path / "ck"),
            ).trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    # 4 malformed (non-URL) rows exceed cap=3: they resolve to domain
    # '' which — like NULL — is identity-less, so ALL pass and none
    # are stored (ADVICE r10: no silent '' cap bucket)
    spark.createDataFrame(
        [(1, "http://hot.org/a"), (2, "http://hot.org/b"), (3, None),
         (4, "nope one"), (5, "nope two"), (6, "nope three"),
         (7, "nope four")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert set().union(*emitted.values()) == {1, 2, 3, 4, 5, 6, 7}

    emitted.clear()
    spark.createDataFrame(
        [
            (10, "http://hot.org/c"),
            (11, "http://hot.org/d"),
            (12, "http://hot.org/e"),
            (13, "http://cool.net/x"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = set().union(*emitted.values())
    # exactly ONE of 10/11/12 fits hot.org's remaining budget; 13 is a
    # fresh domain and always fits
    assert 13 in got and len(got & {10, 11, 12}) == 1, got
    store_df = spark.read.parquet(f"{store}/domains.parquet")
    totals = {
        r.domain: r.total
        for r in store_df.dropDuplicates(["domain", "batch_id"])
        .groupBy("domain")
        .sum("cnt")
        .withColumnRenamed("sum(cnt)", "total")
        .collect()
    }
    assert totals == {"hot.org": 3, "cool.net": 1}, totals


def test_stream_domain_caps_crash_replay(spark, tmp_path):
    """Crash window: the count-store append committed but the
    checkpoint commit was lost -> the batch replays, re-emits the SAME
    survivors, and the ADDITIVE counts do NOT double (the (domain,
    batch_id) idempotence key collapses the duplicate delta rows)."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_domain_caps

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id long, url string"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)
    spark.createDataFrame(
        [(1, "http://a.org/p"), (2, "http://a.org/q"), (3, "http://a.org/r")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = (
            stream_domain_caps(
                spark.readStream.schema(schema).parquet(src), store, emit,
                cap=2, checkpoint_dir=ckpt,
            ).trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    run()
    first = set().union(*emitted.values())
    assert len(first) == 2  # cap=2 of the 3 a.org docs

    # crash: drop the checkpoint commit so batch 0 replays
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    emitted.clear()
    run()
    assert set().union(*emitted.values()) == first  # same survivors re-emitted

    store_df = spark.read.parquet(f"{store}/domains.parquet")
    total = (
        store_df.dropDuplicates(["domain", "batch_id"])
        .groupBy("domain").sum("cnt").collect()
    )
    assert {(r.domain, r["sum(cnt)"]) for r in total} == {("a.org", 2)}, total

    # a post-replay batch still sees cap exhausted
    emitted.clear()
    spark.createDataFrame(
        [(20, "http://a.org/s")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert set().union(*(emitted.values() or [set()])) == set()


def test_compact_count_store(spark, tmp_path):
    """Count-store maintenance: (domain, batch_id) duplicate delta rows
    collapse FIRST (crash-window re-append), then counts SUM to one row
    per domain; presence-compaction (compact_flat_store) would have
    been wrong here. A compacted store keeps enforcing the cap."""
    import os

    from gluestick_ts_spark.operators.dedup import compact_count_store

    store = str(tmp_path / "store")
    os.makedirs(f"{store}/batches")
    open(f"{store}/batches/x-0.done", "w").write("done")
    rows = [
        ("a.org", 2, 100), ("a.org", 2, 100),  # crash-window duplicate
        ("a.org", 1, 101),
        ("b.net", 3, 100),
    ]
    spark.createDataFrame(rows, "domain string, cnt long, batch_id long") \
        .write.mode("append").parquet(f"{store}/domains.parquet")

    compact_count_store(spark, store, "domains.parquet", ["domain"], num_files=1)
    got = {
        (r.domain, r.cnt, r.batch_id)
        for r in spark.read.parquet(
            _flat_data_dir(spark, store, "domains.parquet")
        ).collect()
    }
    assert got == {("a.org", 3, None), ("b.net", 3, None)}, got
    # ADDITIVE stores KEEP their replay markers: post-compaction the
    # folded counts carry batch_id NULL, so a replayed batch can no
    # longer be excluded by stamp — only its .done marker stops a
    # double-count re-append
    assert os.path.exists(f"{store}/batches/x-0.done")

    # idempotent: compacting a compacted store changes nothing
    compact_count_store(spark, store, "domains.parquet", ["domain"])
    got2 = {
        (r.domain, r.cnt, r.batch_id)
        for r in spark.read.parquet(
            _flat_data_dir(spark, store, "domains.parquet")
        ).collect()
    }
    assert got2 == got


def test_registered_domain_full_psl_shapes_and_sql_twin(spark):
    """The real list's deeper ICANN shapes — 2-label wildcard bases
    (*.kawasaki.jp) and 3-label exceptions (!city.kawasaki.jp) — parse
    and resolve at the right grain, AND the DuckDB SQL twin generated
    from the same tables agrees host-for-host with the Spark
    expression (the oracle-parity contract)."""
    import duckdb

    from gluestick_ts_spark.operators.psl import (
        parse_psl_rules,
        registered_domain_sql,
    )

    tables = parse_psl_rules(
        ["co.uk", "k12.ca.us", "*.ck", "!www.ck",
         "*.kawasaki.jp", "!city.kawasaki.jp"]
    )
    urls = [
        "http://a.co.uk/x",            # 2-label suffix
        "http://x.school.k12.ca.us/",  # 3-label suffix
        "http://a.b.ck/",              # 1-label wildcard
        "http://foo.www.ck/",          # 2-label exception
        "http://shop.ichihara.kawasaki.jp/",   # 2-label wildcard -> last4
        "http://ichihara.kawasaki.jp/",        # AT wildcard-suffix depth
        "http://x.city.kawasaki.jp/",          # 3-label exception
        "http://city.kawasaki.jp/",
        "http://plain.example.com/",
        "http://localhost/",
        "not a url",
        # www-registrant guard: remainder-is-a-public-suffix blocks the
        # strip (plain 2-label, 2-label wildcard); an exception-carved
        # remainder is registrable, so the strip proceeds
        "http://www.co.uk/",
        "http://www.ichihara.kawasaki.jp/",
        "http://www.city.kawasaki.jp/",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, u string")
    got = {
        r.i: r.d
        for r in df.select(
            "i", registered_domain_expr("u", psl=tables).alias("d")
        ).collect()
    }
    assert got[4] == "shop.ichihara.kawasaki.jp"
    assert got[5] == "ichihara.kawasaki.jp"  # no registrant label -> host
    assert got[6] == "city.kawasaki.jp"
    assert got[7] == "city.kawasaki.jp"
    assert got[0] == "a.co.uk" and got[1] == "school.k12.ca.us"
    assert got[2] == "a.b.ck" and got[3] == "www.ck"
    assert got[8] == "example.com" and got[9] == "localhost" and got[10] == ""
    assert got[11] == "www.co.uk"
    assert got[12] == "www.ichihara.kawasaki.jp"
    assert got[13] == "city.kawasaki.jp"

    # SQL twin parity over the SAME tables and hosts (the www-strip
    # guard must read the same custom tables as the Spark expression)
    from gluestick_ts_spark.operators.psl import www_strip_host_sql

    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{u}')" for i, u in enumerate(urls))
    raw_host = (
        "lower(regexp_extract(u, "
        "'^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1))"
    )
    sql = (
        f"WITH urls(i, u) AS (VALUES {vals}), "
        f"h AS (SELECT i, {www_strip_host_sql(raw_host, tables)} AS hh FROM urls) "
        f"SELECT i, {registered_domain_sql('hh', tables)} AS d FROM h ORDER BY i"
    )
    oracle = {i: d for i, d in con.execute(sql).fetchall()}
    assert oracle == got, {k: (got[k], oracle[k]) for k in got if got[k] != oracle[k]}

    # full-file path: unsupported depths skip instead of raising
    t2 = parse_psl_rules(["pvt.k12.ma.us", "*.a.b.c", "!a.b.c.d", "co.zz"],
                         on_unsupported="skip")
    assert t2.suffixes_2 == {"co.zz"}


def test_full_scale_psl_file_ingestion(spark):
    """The production-path claim EXECUTED, not just asserted: a
    ~10k-rule realistic-shaped PSL file (comments, blanks, every rule
    shape, the real list's unsupported depths) feeds through
    parse_psl_rules(on_unsupported='skip') with exact table counts,
    compiles into the expression, and resolves known hosts — including
    the documented one-label-shallower fallback for skipped 4-label
    rules (a.pvt.k12.ma.us)."""
    from gluestick_ts_spark.operators.psl import parse_psl_rules
    from gluestick_ts_spark.operators.weburl import registered_domain_expr

    lines = ["// synthetic full-scale PSL", ""]
    slds = (
        "co ac gov net org sch edu com mil id or go ne pe re in mi av dr "
        "k12 lib cc gen idv biz info name pro web int"
    ).split()  # 30
    for t in range(300):
        tld = f"z{t:03d}"
        lines.append(f"// {tld} section")
        lines += [f"{p}.{tld}" for p in slds]  # 300 x 30 = 9000 2-label
        lines += [f"{p}.ca.{tld}" for p in ("k12", "cc", "lib")]  # 900 3-label
    for t in range(0, 300, 30):  # 10 wildcard TLDs + 10 exceptions
        lines.append(f"*.w{t:03d}")
        lines.append(f"!ok.w{t:03d}")
    lines += ["*.kawasaki.jp", "!city.kawasaki.jp"]  # 2-label wild, 3-label exc
    lines += ["ma.us", "k12.ma.us"]  # the US-hierarchy shapes
    # the real list's unsupported depths — must SKIP, never crash
    lines += ["pvt.k12.ma.us", "*.compute.amazonaws.com", "!a.b.c.d"]
    lines += ["com", "org", ""]  # bare TLDs are the fallback; blanks skip
    tables = parse_psl_rules(lines, on_unsupported="skip")
    assert len(tables.suffixes_2) == 9000 + 1  # + ma.us
    assert len(tables.suffixes_3) == 900 + 1  # + k12.ma.us
    assert len(tables.wildcard_tlds) == 10
    assert len(tables.exceptions) == 10
    assert tables.wildcard_2 == {"kawasaki.jp"}
    assert tables.exceptions_3 == {"city.kawasaki.jp"}

    cases = {
        "http://x.co.z000/": "x.co.z000",
        "http://deep.sub.x.co.z299/": "x.co.z299",
        "http://school.k12.ca.z123/p": "school.k12.ca.z123",
        "http://a.b.w000/": "a.b.w000",          # wildcard TLD
        "http://x.ok.w030/": "ok.w030",          # exception carve-out
        "http://shop.ichihara.kawasaki.jp/": "shop.ichihara.kawasaki.jp",
        "http://x.city.kawasaki.jp/": "city.kawasaki.jp",
        # skipped 4-label rule: resolves ONE SHALLOWER (documented)
        "http://a.pvt.k12.ma.us/": "pvt.k12.ma.us",
        "http://plain.example.com/": "example.com",
    }
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "i long, u string"
    )
    got = {
        r.u: r.d
        for r in df.select(
            "u", registered_domain_expr("u", psl=tables).alias("d")
        ).collect()
    }
    assert got == cases


def test_domain_blocklist_flag_both_modes(spark):
    """URL blocklist (round 11): eTLD+1-grain matching (a blocked
    registrant blocks every subdomain), in-row isin mode == broadcast
    DataFrame mode, identity-less rows always keep."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.weburl import domain_blocklist_flag

    rows = [
        (0, "http://ads.tracker-farm.example/x"),   # subdomain of blocked
        (1, "https://TRACKER-FARM.example/y"),      # case + bare registrant
        (2, "http://fine.example.org/z"),           # clean
        (3, "http://tracker-farm.example.org/w"),   # different registrant!
        (4, "not a url at all"),                    # '' domain -> keep
        (5, None),                                  # NULL url -> keep
        (6, "http://bad.co.uk/p"),                  # blocked ccSLD registrant
        (7, "http://sub.bad.co.uk/q"),              # its subdomain
        (8, "http://alsobad.co.uk/r"),              # sibling registrant: keep
    ]
    bl = ("tracker-farm.example", "bad.co.uk")
    df = spark.createDataFrame(rows, "doc_id long, url string")
    want = {0: False, 1: False, 2: True, 3: True, 4: True, 5: True,
            6: False, 7: False, 8: True}

    got = {
        r.doc_id: r.blocklist_ok
        for r in domain_blocklist_flag(df, "url", bl).collect()
    }
    assert got == want, got

    # broadcast-DataFrame mode (the UT1-scale path): same verdicts
    bldf = spark.createDataFrame([(d,) for d in bl], "domain string")
    got2 = {
        r.doc_id: r.blocklist_ok
        for r in domain_blocklist_flag(df, "url", bldf).collect()
    }
    assert got2 == want, got2

    # domain_col exposes the resolved key; empty blocklist keeps all
    out = domain_blocklist_flag(df, "url", (), domain_col="dom")
    assert all(r.blocklist_ok for r in out.collect())
    assert {r.doc_id: r.dom for r in out.collect()}[0] == "tracker-farm.example"


def test_domain_blocklist_dataframe_mode_is_broadcast(spark):
    """The DataFrame-blocklist mode must plan a broadcast join — a
    shuffle of the corpus for a megabyte list is the failure the mode
    exists to avoid."""
    from gluestick_ts_spark.operators.weburl import domain_blocklist_flag

    df = spark.createDataFrame(
        [(i, f"http://site{i}.org/x") for i in range(100)],
        "doc_id long, url string",
    )
    bldf = spark.createDataFrame([("site7.org",)], "domain string")
    plan = (
        domain_blocklist_flag(df, "url", bldf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_parse_robots_rules_rfc9309():
    """RFC 9309 semantics driver-side: group selection by longest
    user-agent match with '*' as fallback, empty Disallow = allow-all,
    comments/garbage skipped, wildcard syntax preserved."""
    from gluestick_ts_spark.operators.weburl import (
        parse_robots_rules,
        robots_pattern_sql_regex,
    )

    txt = """
# a comment
User-agent: examplebot
Disallow: /private/
Allow: /private/ok$

User-agent: otherbot
User-agent: thirdbot
Disallow: /all-others/

User-agent: *
Disallow: /tmp/*.pdf
Disallow:
Crawl-delay: 10
this line is garbage
"""
    # specific group wins over '*'
    assert parse_robots_rules(txt, "examplebot") == [
        ("/private/", False), ("/private/ok$", True),
    ]
    # multi-agent group
    assert parse_robots_rules(txt, "thirdbot") == [("/all-others/", False)]
    # unknown agent falls to '*' (empty Disallow contributes nothing)
    assert parse_robots_rules(txt, "somebody") == [("/tmp/*.pdf", False)]
    # garbage file -> allow-all
    assert parse_robots_rules("%%% not robots %%%") == []
    assert parse_robots_rules("") == []
    # pattern compilation: escape, * -> .*, trailing $ anchors
    import re

    rx = robots_pattern_sql_regex("/tmp/*.pdf")
    assert re.match(rx, "/tmp/a/b/x.pdf") and not re.match(rx, "/doc/x.pdf")
    rx2 = robots_pattern_sql_regex("/exact$")
    assert re.search(rx2, "/exact")
    assert not re.search(rx2, "/exact/sub")


def test_robots_filter_longest_match_and_defaults(spark):
    """Distributed verdicts: longest-match-wins, allow beats disallow
    on ties, allow-all for unmatched paths / missing domains / garbage
    robots; the plan stays one broadcast join (no corpus shuffle)."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.weburl import robots_filter

    robots = spark.createDataFrame(
        [
            ("site.example", "User-agent: *\nDisallow: /private/\n"
             "Allow: /private/pub/\nDisallow: /private/pub/secret$"),
            ("open.example", "garbage robots file %%%"),
        ],
        "domain string, robots_text string",
    )
    urls = [
        (0, "http://www.site.example/index.html"),          # no rule -> allow
        (1, "http://site.example/private/x"),               # disallow
        (2, "http://site.example/private/pub/a"),           # longer allow wins
        (3, "http://site.example/private/pub/secret"),      # longest disallow
        (4, "http://site.example/private/pub/secret2"),     # $ anchor: allow
        (5, "http://sub.site.example/private/y"),           # subdomain -> same reg dom
        (6, "http://open.example/anything"),                # garbage -> allow
        (7, "http://norobots.example/x"),                   # no robots -> allow
        (8, "not a url"),                                   # '' domain -> allow
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    # domain mode: subdomains share the registrant's policy table
    out = robots_filter(df, robots, "url", key="domain")
    got = {r.doc_id: r.robots_ok for r in out.collect()}
    assert got == {0: True, 1: False, 2: True, 3: False, 4: True,
                   5: False, 6: True, 7: True, 8: True}, got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    # host mode (the default, spec-correct): robots scope is the
    # ORIGIN — www./sub. hosts do NOT inherit the bare host's file
    hgot = {
        r.doc_id: r.robots_ok
        for r in robots_filter(df, robots, "url").collect()
    }
    assert hgot[1] is False and hgot[3] is False   # exact host matches
    assert hgot[0] is True and hgot[5] is True     # www./sub. unmatched
    with pytest.raises(ValueError, match="key"):
        robots_filter(df, robots, "url", key="nope")

    # broadcast=False: identical verdicts through the shuffle-join path
    jgot = {
        r.doc_id: r.robots_ok
        for r in robots_filter(
            df, robots, "url", key="domain", broadcast=False
        ).collect()
    }
    assert jgot == got


def test_robots_filter_local_pairs_mode_no_python(spark):
    """A local (domain, robots_text) list compiles driver-side: same
    verdicts as the DataFrame mode with ZERO Python operators in the
    plan — the mode fixed policy tables (and the curation stage) use."""
    from gluestick_ts_spark.operators.weburl import robots_filter

    pairs = [("site.example", "User-agent: *\nDisallow: /no/")]
    df = spark.createDataFrame(
        [(0, "http://site.example/ok"), (1, "http://site.example/no/x")],
        "doc_id long, url string",
    )
    out = robots_filter(df, pairs, "url")
    assert {r.doc_id: r.robots_ok for r in out.collect()} == {0: True, 1: False}
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node
    # identical verdicts through the DataFrame (Arrow-compile) mode
    rdf = spark.createDataFrame(pairs, "domain string, robots_text string")
    assert {r.doc_id: r.robots_ok for r in robots_filter(df, rdf, "url").collect()} == {
        0: True, 1: False,
    }


def test_parse_robots_rules_fuzz_never_raises():
    """Property gate (the codec/WARC fuzz pattern): arbitrary text —
    random lines of field-ish tokens, garbage, unicode — never raises;
    the result is always a list of (str pattern, bool allow), and the
    compiled regex of every returned pattern is a valid Java∩RE2
    expression (re.compile accepts it)."""
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gluestick_ts_spark.operators.weburl import (
        parse_robots_rules,
        robots_pattern_sql_regex,
    )

    line = st.one_of(
        st.text(max_size=40),
        st.tuples(
            st.sampled_from(
                ["User-agent", "user-AGENT", "Disallow", "Allow",
                 "Sitemap", "Crawl-delay", "weird-field", ""]
            ),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=500),
                max_size=30,
            ),
        ).map(lambda t: f"{t[0]}: {t[1]}"),
        st.just("#comment"),
    )
    ua = st.sampled_from(["*", "examplebot", "x", ""])

    @settings(max_examples=120, deadline=None)
    @given(st.lists(line, max_size=12).map("\n".join), ua)
    def run(txt, agent):
        rules = parse_robots_rules(txt, agent)
        assert isinstance(rules, list)
        for pat, allow in rules:
            assert isinstance(pat, str) and isinstance(allow, bool)
            _re.compile(robots_pattern_sql_regex(pat))

    run()
    assert parse_robots_rules(None if False else "", "*") == []


def test_parse_robots_rules_ua_match_is_one_directional():
    """ADVICE r12: group selection matches the robots token as a
    substring of OUR product token only — an unrelated LONGER token
    ('mybot-images' for agent 'mybot') must not win as the specific
    group, a token containing '*' must not hijack user_agent='*', and
    an empty User-agent value matches nothing."""
    from gluestick_ts_spark.operators.weburl import parse_robots_rules

    txt = """
User-agent: mybot-images
Disallow: /images-only/

User-agent: *
Disallow: /fallback/
"""
    # 'mybot' is NOT 'mybot-images': falls to the '*' group
    assert parse_robots_rules(txt, "mybot") == [("/fallback/", False)]
    # the images crawler itself still gets its group
    assert parse_robots_rules(txt, "mybot-images/1.0") == [
        ("/images-only/", False)
    ]
    # a token containing '*' is not the default group
    star_bait = "User-agent: evil*corp\nDisallow: /\n"
    assert parse_robots_rules(star_bait, "*") == []
    # empty User-agent value matches no crawler
    empty = "User-agent:\nDisallow: /x/\nUser-agent: *\nDisallow: /y/\n"
    assert parse_robots_rules(empty, "somebot") == [("/y/", False)]


# ------------------------------------------------------ sitemap discovery

def test_sitemaps_from_robots_directives(spark):
    from gluestick_ts_spark.operators.weburl import sitemaps_from_robots

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\nDisallow: /x\n"
                "Sitemap: https://a.com/sitemap.xml\n"
                "SITEMAP:\thttps://a.com/news-sitemap.xml\n",
            ),
            ("b.com", "User-agent: *\nAllow: /\n"),  # none
            ("c.com", "  sitemap: https://cdn.c.com/sm/index.xml.gz"),
        ],
        "domain string, robots_text string",
    )
    got = {
        (r.domain, r.sitemap_url)
        for r in sitemaps_from_robots(robots).collect()
    }
    assert got == {
        ("a.com", "https://a.com/sitemap.xml"),
        ("a.com", "https://a.com/news-sitemap.xml"),
        ("c.com", "https://cdn.c.com/sm/index.xml.gz"),
    }


def test_sitemap_locs_entities_cdata_and_index_flag(spark):
    from gluestick_ts_spark.operators.weburl import (
        sitemap_is_index_expr,
        sitemap_locs_expr,
    )

    urlset = (
        '<?xml version="1.0"?>\n<urlset xmlns="http://www.sitemaps.org/'
        'schemas/sitemap/0.9">\n'
        "<url><loc> https://x.com/a?p=1&amp;q=2 </loc>"
        "<lastmod>2024-01-01</lastmod></url>\n"
        "<url><loc><![CDATA[https://x.com/b]]></loc></url>\n"
        "<url><loc></loc></url>\n"  # empty loc dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>\n<sitemap><LOC>https://x.com/sm1.xml</LOC>"
        "</sitemap>\n<sitemap><loc>https://x.com/sm2.xml.gz</loc>"
        "</sitemap>\n</sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index), (3, "<html>not a sitemap</html>")],
        "id long, xml string",
    )
    rows = {
        r.id: (r.locs, r.isx)
        for r in df.select(
            "id",
            sitemap_locs_expr("xml").alias("locs"),
            sitemap_is_index_expr("xml").alias("isx"),
        ).collect()
    }
    assert rows[1] == (["https://x.com/a?p=1&q=2", "https://x.com/b"], False)
    assert rows[2] == (["https://x.com/sm1.xml", "https://x.com/sm2.xml.gz"], True)
    assert rows[3] == ([], False)


def test_sitemap_urls_from_warc_frontier(spark, tmp_path):
    """Crawl -> frontier e2e: robots names the sitemap, the fetched
    sitemap index names more sitemaps (from_index=true), the page
    sitemap names pages — all through read_warc + the helpers."""
    from gluestick_ts_spark.operators.weburl import (
        robots_from_warc,
        sitemap_urls_from_warc,
        sitemaps_from_robots,
    )
    from gluestick_ts_spark.sources.warc import read_warc, warc_encode

    def cap(url, body, ct=b"text/xml"):
        return {
            "warc_type": "response",
            "url": url,
            "warc_date": "2024-01-01T00:00:00Z",
            "content_type": "application/http; msgtype=response",
            "body": b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n\r\n"
            + body,
        }

    recs = [
        cap(
            "http://s.com/robots.txt",
            b"User-agent: *\nAllow: /\nSitemap: http://s.com/sitemap.xml\n",
            b"text/plain",
        ),
        cap(
            "http://s.com/sitemap.xml",
            b"<sitemapindex><sitemap><loc>http://s.com/sm-pages.xml</loc>"
            b"</sitemap></sitemapindex>",
        ),
        cap(
            "http://s.com/sm-pages.xml",
            b"<urlset><url><loc>http://s.com/p1</loc></url>"
            b"<url><loc>http://s.com/p2</loc></url></urlset>",
        ),
        cap("http://s.com/p1", b"<html>a page</html>", b"text/html"),
    ]
    (tmp_path / "c.warc.gz").write_bytes(warc_encode(recs))
    crawl = read_warc(spark, str(tmp_path))
    robots = robots_from_warc(crawl)
    seeds = {
        r.sitemap_url for r in sitemaps_from_robots(robots).collect()
    }
    assert seeds == {"http://s.com/sitemap.xml"}
    frontier = sitemap_urls_from_warc(crawl).collect()
    got = {(r.source_url, r.url, r.from_index) for r in frontier}
    assert got == {
        ("http://s.com/sitemap.xml", "http://s.com/sm-pages.xml", True),
        ("http://s.com/sm-pages.xml", "http://s.com/p1", False),
        ("http://s.com/sm-pages.xml", "http://s.com/p2", False),
    }


def test_with_registered_domain_matches_column_expr(spark):
    """The staged SQL-text path (with_registered_domain — round 16's
    one-parse build optimization) must emit EXACTLY the Column
    expression's values: snapshot PSL and a custom table carrying
    every rule shape (2/3-label suffixes, wildcard TLD, 2-label
    wildcard base, 1/3-label exceptions), over the full corner
    battery incl. NULLs, non-URLs, userinfo/ports, and the
    www-registrant guard."""
    from gluestick_ts_spark.operators.psl import parse_psl_rules
    from gluestick_ts_spark.operators.weburl import with_registered_domain

    urls = [
        "http://a.co.uk/x",
        "https://WWW.Example.COM:443/p?q=1",
        "http://user:pw@www.b.co.uk:8080/y",
        "http://x.school.k12.ca.us/",
        "http://a.b.ck/",
        "http://foo.www.ck/",
        "http://shop.ichihara.kawasaki.jp/",
        "http://ichihara.kawasaki.jp/",
        "http://x.city.kawasaki.jp/",
        "http://city.kawasaki.jp/",
        "http://www.blogspot.com/",
        "http://www.co.uk/",
        "http://www.ichihara.kawasaki.jp/",
        "http://www.city.kawasaki.jp/",
        "http://plain.example.com/",
        "http://localhost/",
        "not a url",
        "",
        None,
        "  http://padded.example.org/  ",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, u string"
    )
    tables = parse_psl_rules(
        ["co.uk", "k12.ca.us", "*.ck", "!www.ck",
         "*.kawasaki.jp", "!city.kawasaki.jp", "blogspot.com"]
    )
    for psl in (None, tables):
        want = {
            r.i: r.d
            for r in df.select(
                "i", registered_domain_expr("u", psl=psl).alias("d")
            ).collect()
        }
        got = {
            r.i: r.d
            for r in with_registered_domain(df, "u", "d", psl=psl)
            .select("i", "d")
            .collect()
        }
        assert got == want, {
            k: (got[k], want[k]) for k in want if got[k] != want[k]
        }
