"""Perceptual image hashing + Hamming near-dup (operators/imagehash.py):
pure-function hash pins, banded-vs-brute-force equality (the recall-1.0
pigeonhole guarantee), mixed-corpus NULL handling, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.operators.imagehash import (
    ahash_of_payload,
    dhash_of_payload,
    hamming_neardup_pairs,
    image_dhash,
)
from gluestick_ts_spark.operators.media_codecs import bmp_encode, png_encode


def _gray_bmp(vals):
    """8x8 grayscale BMP from 64 luma values."""
    return bmp_encode(8, 8, [(v, v, v) for v in vals])


def test_dhash_pure_function_properties():
    # solid image: no adjacent difference -> hash 0
    solid = _gray_bmp([128] * 64)
    assert dhash_of_payload(solid) == 0
    # vertical strong gradient: every non-duplicated comparison fires
    grad = _gray_bmp([220 if k % 2 else 20 for k in range(64)])
    h = dhash_of_payload(grad)
    assert h != 0
    # deterministic + format-independent content hash (PNG twin of the
    # same pixels hashes identically — the decode is the same grid)
    png = png_encode(8, 8, [(v, v, v) for v in (220 if k % 2 else 20 for k in range(64))])
    assert dhash_of_payload(png) == h
    # non-image / undecodable -> None
    assert dhash_of_payload(b"not an image at all") is None
    assert dhash_of_payload(None) is None
    # ahash: solid image has no pixel above the mean
    assert ahash_of_payload(solid) == 0
    assert ahash_of_payload(grad) not in (None, 0)


def test_dhash_small_perturbation_small_hamming():
    base = [220 if (k * 13 + k // 8) % 2 else 20 for k in range(64)]
    mod = list(base)
    mod[27] = 220 if mod[27] == 20 else 20  # one inverted pixel
    ha = dhash_of_payload(_gray_bmp(base))
    hb = dhash_of_payload(_gray_bmp(mod))
    ham = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
    assert 1 <= ham <= 4  # a pixel touches at most its 2 row comparisons (x2 dup cols)


def test_image_dhash_column_and_nulls(spark):
    rows = [
        (1, _gray_bmp([10 * (k % 7) for k in range(64)])),
        (2, b"RIFFxxxxWAVEbroken"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    assert got[1] == dhash_of_payload(rows[0][1])
    assert got[2] is None and got[3] is None


def test_custom_hash_callable_one_convention(spark):
    """The SAME single-arg ``payload -> int | None`` callable works in
    BOTH custom-hash APIs — ``media_hashes(columns=...)`` and
    ``extract_media_features(hash_columns=...)`` — and produces the
    same column (the r10 arity split, fixed: bind sizes via partial)."""
    import functools

    from gluestick_ts_spark.operators.imagehash import media_hashes
    from gluestick_ts_spark.operators.multimodal import extract_media_features

    fam = functools.partial(dhash_of_payload, hash_size=4)
    rows = [(1, _gray_bmp([10 * (k % 7) for k in range(64)])), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    a = {r.doc_id: r.h4 for r in media_hashes(df, columns={"h4": fam}).collect()}
    b = {
        r.doc_id: r.h4
        for r in extract_media_features(
            df, n_features=1, hash_columns={"h4": fam}
        ).collect()
    }
    assert a == b and a[1] == fam(rows[0][1]) and a[2] is None


def test_banded_pairs_equal_brute_force(spark):
    """The correctness core: pigeonhole banding at n_blocks=7 over
    max_hamming=6 must return EXACTLY the quadratic pair set."""
    import itertools

    payloads = []
    for g in range(12):
        base = [220 if (g * 31 + 17 * k) % 3 % 2 else 20 for k in range(64)]
        payloads.append((g * 10, base))
        near = list(base)
        near[9] = 220 if near[9] == 20 else 20
        payloads.append((g * 10 + 1, near))
        far = [220 - v + 40 for v in base]  # full inversion
        payloads.append((g * 10 + 2, far))
    hashes = {i: dhash_of_payload(_gray_bmp(v)) for i, v in payloads}
    expect = set()
    for (a, ha), (b, hb) in itertools.combinations(sorted(hashes.items()), 2):
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 6:
            expect.add((a, b))

    df = spark.createDataFrame(
        [(i, _gray_bmp(v)) for i, v in payloads], "doc_id long, content binary"
    )
    pairs = hamming_neardup_pairs(image_dhash(df), "doc_id", "dhash", max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == expect and len(expect) > 0
    # hamming values are exact too
    for r in pairs.collect():
        ham = bin((hashes[r.id_a] ^ hashes[r.id_b]) & ((1 << 64) - 1)).count("1")
        assert r.hamming == ham


def _wav(freq, n=400, rate=8000, amp=0.4, noise=0):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(
            f"<{n}h",
            *[
                int(amp * 32767 * math.sin(2 * math.pi * freq * t / rate))
                + ((t % 3) - 1) * noise
                for t in range(n)
            ],
        ))
    return buf.getvalue()


def test_wavhash_pure_function_properties(spark):
    from gluestick_ts_spark.operators.imagehash import (
        media_hashes,
        wavhash_of_payload,
    )

    a = wavhash_of_payload(_wav(300))
    assert a is not None and a == wavhash_of_payload(_wav(300))
    # amplitude-scaled copy: window-energy ORDER mostly preserved
    near = wavhash_of_payload(_wav(300, amp=0.41))
    ham_near = bin((a ^ near) & ((1 << 64) - 1)).count("1")
    assert ham_near <= 8, ham_near
    # different frequency: energy envelope reshuffles
    far = wavhash_of_payload(_wav(487))
    ham_far = bin((a ^ far) & ((1 << 64) - 1)).count("1")
    assert ham_far > 8, ham_far
    # non-audio -> None
    assert wavhash_of_payload(_gray_bmp([1] * 64)) is None
    assert wavhash_of_payload(b"junk") is None

    # one-pass multi-hash column: images fill dhash, wavs fill wavhash
    df = spark.createDataFrame(
        [(1, _gray_bmp([k * 3 % 200 for k in range(64)])), (2, _wav(300))],
        "doc_id long, content binary",
    )
    rows = {r.doc_id: (r.dhash, r.wavhash) for r in media_hashes(df).collect()}
    assert rows[1][0] is not None and rows[1][1] is None
    assert rows[2][0] is None and rows[2][1] == a

    # the hamming join works unchanged on the audio hash column
    wdf = spark.createDataFrame(
        [(1, _wav(300)), (2, _wav(300, amp=0.41)), (3, _wav(487))],
        "doc_id long, content binary",
    )
    pairs = hamming_neardup_pairs(
        media_hashes(wdf), "doc_id", "wavhash", max_hamming=8
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got


def test_hamming_pairs_validation(spark):
    df = spark.createDataFrame([(1, 0)], "doc_id long, dhash long")
    # n_blocks <= max_hamming breaks the pigeonhole guarantee -> refused
    with pytest.raises(ValueError):
        hamming_neardup_pairs(df, max_hamming=6, n_blocks=6)
    with pytest.raises(ValueError):
        hamming_neardup_pairs(df, max_hamming=64)
    with pytest.raises(ValueError):
        image_dhash(df, kind="nope")


def test_hamming_pairs_edge_thresholds(spark):
    """max_hamming=0 (exact-duplicate search: the single band is the
    whole hash, no 64-bit mask literal) and max_hamming in [32, 63]
    (default n_blocks must not trip its own validation) both work."""
    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, -7), (4, -7), (5, 6)],
        "doc_id long, h long",
    )
    exact = hamming_neardup_pairs(df, "doc_id", "h", max_hamming=0)
    assert {(r.id_a, r.id_b) for r in exact.collect()} == {(1, 2), (3, 4)}
    wide = hamming_neardup_pairs(df, "doc_id", "h", max_hamming=40)
    got = {(r.id_a, r.id_b): r.hamming for r in wide.collect()}
    # brute force over the 5 hashes
    hs = {1: 7, 2: 7, 3: -7, 4: -7, 5: 6}
    import itertools

    expect = {
        (a, b): bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(hs), 2)
        if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= 40
    }
    assert got == expect


def test_media_dedup_and_incremental(spark):
    """Cluster dedup over Hamming: a transitive chain collapses to one
    survivor; NULL-hash rows always survive; the incremental form
    drops batch items near ANY stored hash and never stores NULLs."""
    from gluestick_ts_spark.operators.imagehash import (
        hamming_join,
        media_dedup,
        media_dedup_incremental,
    )

    # hashes with a transitive chain: 0b0, 0b11, 0b1111 (0-3: ham 2;
    # 3-15: ham 2; 0-15: ham 4 > max 3 only via the chain), a far one,
    # and a NULL
    rows = [(1, 0), (2, 3), (3, 15), (4, -1), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    out = {r.doc_id for r in media_dedup(df, max_hamming=3).collect()}
    assert out == {1, 4, 5}  # chain 1-2-3 collapses to min id 1

    # incremental: store holds hash 2 (ham 1 from new hash 3)
    store = spark.createDataFrame([(100, 2)], "id long, hash long")
    batch = spark.createDataFrame(
        [(10, 3), (11, -1), (12, None)], "doc_id long, dhash long"
    )  # note: ham(2, 1<<40) is only 2 — 'far' needs MANY differing bits
    surv, keys = media_dedup_incremental(batch, store, max_hamming=3)
    assert {r.doc_id for r in surv.collect()} == {11, 12}
    assert {(r.id, r.hash) for r in keys.collect()} == {(11, -1)}

    # hamming_join keeps equal-id cross pairs (cross-relation contract)
    j = hamming_join(
        spark.createDataFrame([(7, 5)], "doc_id long, dhash long"),
        spark.createDataFrame([(7, 5)], "id long, hash long"),
        right_id_col="id", right_hash_col="hash", max_hamming=0,
    )
    assert [(r.id_a, r.id_b, r.hamming) for r in j.collect()] == [(7, 7, 0)]


def test_exif_rotated_pair_lands_in_one_dedup_cluster(spark):
    """Round 11: a rotated phone re-upload (EXIF orientation 6) must
    land in the SAME media_dedup cluster as its upright original — the
    decoder normalizes orientation before the luma grid, so the dHash
    compares upright pixels on both. A genuinely different image stays
    its own cluster (negative control)."""
    import hashlib as _hl

    import numpy as np

    from gluestick_ts_spark.operators.imagehash import media_dedup, media_hashes
    from gluestick_ts_spark.operators.media_codecs import jpeg_decode, jpeg_encode

    # 16x16, 2x2 cells of 4-level luma with horizontally-adjacent cells
    # >= 75 apart (the tie-free dhash pattern from the phash fixtures)
    levels = [20, 95, 170, 245]
    vals = []
    for y in range(8):
        prev = None
        row = []
        for x in range(8):
            ch = int(_hl.md5(f"rot:{y}:{x}".encode()).hexdigest(), 16) % 4
            if prev is not None and abs(levels[ch] - levels[prev]) < 75:
                ch = (ch + 2) % 4
            row.append(ch)
            prev = ch
        vals.append(row)
    px = [
        (levels[vals[y // 2][x // 2]],) * 3
        for y in range(16)
        for x in range(16)
    ]
    upright = jpeg_encode(16, 16, px)
    arr = np.array(jpeg_decode(upright)[2], dtype=np.int64).reshape(16, 16, 3)
    stored = np.ascontiguousarray(np.rot90(arr, 1))  # camera wrote it rotated
    rotated = jpeg_encode(
        16, 16, [tuple(p) for p in stored.reshape(256, 3).tolist()],
        exif_orientation=6,
    )
    other = jpeg_encode(
        16, 16, [((x * 93 + y * 57) % 256,) * 3 for y in range(16) for x in range(16)]
    )
    df = spark.createDataFrame(
        [(1, upright), (2, rotated), (3, other)], "doc_id long, content binary"
    )
    hashed = media_hashes(df).select("doc_id", "dhash")
    survivors = {r.doc_id for r in media_dedup(hashed, max_hamming=6).collect()}
    assert survivors == {1, 3}, survivors  # 2 collapsed into 1; 3 distinct


def test_stream_media_dedup_prehashed_rothash(spark, tmp_path):
    """The pre-hashed stream path (docstring contract: 'pass a
    pre-hashed stream by using an existing hash_col') with the
    rotation-canonical hash: an UNTAGGED rotated re-upload of an
    accepted image dies against the durable store in a later batch,
    fresh content survives."""
    import os

    import numpy as np

    from gluestick_ts_spark.operators.imagehash import (
        media_hashes,
        rot_min_dhash_of_payload,
    )
    from gluestick_ts_spark.operators.media_codecs import bmp_encode
    from gluestick_ts_spark.streaming.incremental import stream_media_dedup

    px = [((x * 37 + y * 11) % 256, (x * 5 + y * 43) % 256,
           (x * x + y * 3) % 256) for y in range(12) for x in range(16)]
    arr = np.array(px, dtype=np.int64).reshape(12, 16, 3)

    def enc(a):
        return bmp_encode(
            a.shape[1], a.shape[0], [tuple(p) for p in a.reshape(-1, 3).tolist()]
        )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, content binary"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        hashed = media_hashes(
            stream, columns={"rothash": rot_min_dhash_of_payload}
        )
        q = stream_media_dedup(
            hashed, store, emit, hash_col="rothash",
            checkpoint_dir=str(tmp_path / "ck"),
            hash_kind="rot_min_dhash",
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)

    put([(1, enc(arr))])
    run()
    assert set().union(*emitted.values()) == {1}

    emitted.clear()
    other = enc(np.array(
        [((x * 93 + y * 57) % 256,) * 3 for y in range(12) for x in range(16)],
        dtype=np.int64).reshape(12, 16, 3))
    put([(10, enc(np.rot90(arr, 1))), (11, other)])  # 10 = rotated re-upload
    run()
    assert set().union(*emitted.values()) == {11}
    stored = {r.id for r in spark.read.parquet(f"{store}/hashes.parquet").collect()}
    assert stored == {1, 11}


def test_rot_min_dhash_rotation_invariant(spark):
    """Round 11: the rotation-canonical dHash (unsigned min over the
    four right-angle rotations) is EXACTLY invariant under untagged
    rotation of the pixels — the complement to EXIF normalization —
    while plain dHash differs; an untagged rotated pair collapses to
    one media_dedup cluster when deduping on the rothash column."""
    import numpy as np

    from gluestick_ts_spark.operators.imagehash import (
        media_dedup,
        media_hashes,
        rot_min_dhash_of_payload,
    )
    from gluestick_ts_spark.operators.media_codecs import bmp_encode

    px = [((x * 37 + y * 11) % 256, (x * 5 + y * 43) % 256,
           (x * x + y * 3) % 256) for y in range(12) for x in range(16)]
    arr = np.array(px, dtype=np.int64).reshape(12, 16, 3)

    def enc(a):
        return bmp_encode(
            a.shape[1], a.shape[0], [tuple(p) for p in a.reshape(-1, 3).tolist()]
        )

    base = enc(arr)
    h0 = rot_min_dhash_of_payload(base)
    for k in (1, 2, 3):
        assert rot_min_dhash_of_payload(enc(np.rot90(arr, k))) == h0, k
    # plain dHash is NOT rotation-invariant (the gap rothash closes)
    assert dhash_of_payload(enc(np.rot90(arr, 1))) != dhash_of_payload(base)
    # non-images and NULLs degrade to NULL like the rest of the family
    assert rot_min_dhash_of_payload(None) is None
    assert rot_min_dhash_of_payload(b"RIFFxxxxWAVEbroken") is None

    # dedup on the rothash column: untagged rotation collapses, a
    # different image survives
    other = enc(np.array(
        [((x * 93 + y * 57) % 256,) * 3 for y in range(12) for x in range(16)],
        dtype=np.int64).reshape(12, 16, 3))
    df = spark.createDataFrame(
        [(1, base), (2, enc(np.rot90(arr, 1))), (3, other)],
        "doc_id long, content binary",
    )
    hashed = media_hashes(
        df, columns={"rothash": rot_min_dhash_of_payload}
    ).select("doc_id", "rothash")
    survivors = {
        r.doc_id
        for r in media_dedup(hashed, hash_col="rothash", max_hamming=6).collect()
    }
    assert survivors == {1, 3}, survivors


def test_hamming_pairs_plan_shape(spark):
    """Scale gate: candidates come from a (block, value) equi-join —
    no cartesian product; the only Python stage is the decode UDF."""
    import re

    df = spark.createDataFrame(
        [(i, _gray_bmp([(i * k) % 256 for k in range(64)])) for i in range(8)],
        "doc_id long, content binary",
    )
    hashed = image_dhash(df)
    # plan BEFORE the eager checkpoint: build the same join shape
    h = hashed.where(F.col("dhash").isNotNull()).select(
        F.col("doc_id").alias("id"), F.col("dhash").alias("__h")
    )
    blocks = h.select(
        "id", "__h",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("__h"), i * 9).bitwiseAND(F.lit((1 << 9) - 1))
                for i in range(7)
            ])
        ).alias("block", "block_val"),
    )
    a = blocks.select(F.col("id").alias("id_a"), F.col("__h").alias("__ha"), "block", "block_val")
    b = blocks.select(F.col("id").alias("id_b"), F.col("__h").alias("__hb"), "block", "block_val")
    joined = a.join(b, on=["block", "block_val"]).where(F.col("id_a") < F.col("id_b"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = joined._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    assert re.search(r"\(\d+\) (BroadcastHash|SortMergeHash|SortMerge)Join", plan)


def test_stream_media_dedup(spark, tmp_path):
    """Streaming twin over a durable hash store: batch 1 seeds; batch
    2's near-copy of a stored image dies against the store while fresh
    content survives and extends it; non-images pass through."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_media_dedup

    def img(seed, flip=()):
        vals = [220 if (seed * 31 + 17 * k) % 3 % 2 else 20 for k in range(64)]
        for f in flip:
            vals[f] = 240 - vals[f]
        return _gray_bmp(vals)

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, content binary"
    emitted: dict[int, set] = {}

    def emit(df, batch_id):
        emitted.setdefault(batch_id, set()).update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    put([(1, img(1)), (2, img(1, (9,))), (3, img(5)), (4, b"not an image")])
    q = (
        stream_media_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=str(tmp_path / "ck"),
        ).trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert set().union(*emitted.values()) == {1, 3, 4}  # 2 = in-batch near-dup

    emitted.clear()
    put([(10, img(1, (27,))), (11, img(9)), (12, b"junk")])
    q2 = (
        stream_media_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=str(tmp_path / "ck"),
        ).trigger(availableNow=True).start()
    )
    q2.awaitTermination(180)
    assert set().union(*emitted.values()) == {11, 12}  # 10 caught by the store
    stored = {r.id for r in spark.read.parquet(f"{store}/hashes.parquet").collect()}
    assert stored == {1, 3, 11}  # non-images never stored


def test_jpeg_cross_codec_neardup(spark):
    """Round 10's headline gap closed: JPEG payloads hash (no more
    silent NULL-skip on the dominant crawl format), and a JPEG
    re-encode of a BMP pairs with its source through the banded
    Hamming join — cross-CODEC perceptual dedup, the actual web-crawl
    scenario."""
    from gluestick_ts_spark.operators.imagehash import (
        dhash_of_payload,
        hamming_neardup_pairs,
        image_dhash,
        media_dedup,
    )
    from gluestick_ts_spark.operators.media_codecs import (
        bmp_encode,
        jpeg_decode,
        jpeg_encode,
    )

    import hashlib

    def img(g, codec):
        vals = []
        for y in range(8):
            prev = None
            row = []
            for x in range(8):
                ch = int(hashlib.md5(f"{g}:{y}:{x}".encode()).hexdigest(), 16) % 4
                if ch == prev:
                    ch = (ch + 1) % 4
                prev = ch
                row.append(20 + 75 * ch)
            vals.append(row)
        px = [(vals[y // 2][x // 2],) * 3 for y in range(16) for x in range(16)]
        return (bmp_encode if codec == "bmp" else jpeg_encode)(16, 16, px)

    # driver-side: jpeg hashes are non-NULL and near their bmp twin
    for g in range(4):
        hb = dhash_of_payload(img(g, "bmp"))
        hj = dhash_of_payload(img(g, "jpeg"))
        assert hb is not None and hj is not None
        assert bin((hb ^ hj) & ((1 << 64) - 1)).count("1") <= 6

    # distributed: bmp originals + jpeg re-encodes; each (2i, 2i+1)
    # cross-codec pair must be found, no cross-group pairs
    rows = []
    for g in range(6):
        rows.append((2 * g, img(g, "bmp")))
        rows.append((2 * g + 1, img(g, "jpeg")))
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    pairs = hamming_neardup_pairs(image_dhash(df), "doc_id", "dhash", max_hamming=6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(2 * g, 2 * g + 1) for g in range(6)}, got

    # media_dedup keeps one survivor per cross-codec cluster
    surv = media_dedup(image_dhash(df), "doc_id", "dhash", max_hamming=6)
    assert {r.doc_id for r in surv.collect()} == {2 * g for g in range(6)}


def test_vhash_temporal_properties():
    """vhash (round 11): container-metadata invariance, strict-majority
    single-frame tolerance, still-GIF degeneration, modality NULLs."""
    from gluestick_ts_spark.operators.imagehash import vhash_of_payload
    from gluestick_ts_spark.operators.media_codecs import avi_encode, gif_encode

    def frame(seed, k):
        return [
            ((seed * 31 + k * 11 + x * 29) % 256, (seed * 7 + y * 43) % 256,
             (x * y + seed + k) % 256)
            for y in range(8)
            for x in range(8)
        ]

    frames = [frame(5, k) for k in range(5)]
    v = vhash_of_payload(avi_encode(8, 8, frames, fps=4))
    assert v is not None
    # re-mux at a different fps: same frames, same hash (a container
    # retag must not defeat video dedup)
    assert vhash_of_payload(avi_encode(8, 8, frames, fps=30)) == v
    # replacing ONE frame of five flips a bit only where it tips a
    # strict majority — with 4/5 frames intact no bit's majority can
    # flip unless the vote was already 3-2, so distance stays small
    swapped = frames[:4] + [frame(99, 0)]
    v2 = vhash_of_payload(avi_encode(8, 8, swapped, fps=4))
    ham = bin((v ^ v2) & ((1 << 64) - 1)).count("1")
    assert ham <= 16, ham
    # a still GIF is a 1-frame video: vhash degenerates to the frame's
    # dHash (composed-frame PNG pixels == the GIF pixels)
    px = [((k * 37) % 256,) * 3 for k in range(64)]
    g = gif_encode(8, 8, px)
    assert vhash_of_payload(g) == dhash_of_payload(g)
    # modality NULLs: images/audio/garbage are not videos
    assert vhash_of_payload(_gray_bmp([128] * 64)) is None
    assert vhash_of_payload(b"RIFF\x00\x00\x00\x00WAVEjunk") is None
    assert vhash_of_payload(None) is None
    with pytest.raises(ValueError, match="n_frames"):
        vhash_of_payload(b"x", n_frames=0)


def _pcm_wav(vals, rate=8000, nch=1):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(vals)}h", *vals))
    return buf.getvalue()


def test_spechash_gain_invariance_and_sensitivity():
    """spechash (round 11): Haitsma-Kalker energy-difference bits are
    EXACTLY gain-invariant (sign of a difference-of-differences is
    scale-invariant; a power-of-two integer gain is also float-exact),
    frequency-sensitive, and NULL off-modality / under-length."""
    import math

    from gluestick_ts_spark.operators.imagehash import (
        spechash_of_payload,
        wavhash_of_payload,
    )

    # base samples forced to multiples of 4 so the /4 gain is integer-
    # exact end to end (no requantization noise in the invariance pin)
    base = [
        int(0.8 * 32767 * math.sin(2 * math.pi * 440.0 * t / 8000)) // 4 * 4
        for t in range(400)
    ]
    h = spechash_of_payload(_pcm_wav(base))
    assert h is not None
    assert spechash_of_payload(_pcm_wav([v // 4 for v in base])) == h
    # inexact gain (x0.3 at synthesis): robust in practice — the sine's
    # band structure keeps every double-difference far from zero
    scaled = [
        int(0.3 * 0.8 * 32767 * math.sin(2 * math.pi * 440.0 * t / 8000))
        for t in range(400)
    ]
    ham = bin((h ^ spechash_of_payload(_pcm_wav(scaled))) & ((1 << 64) - 1)).count("1")
    assert ham <= 4, ham
    # frequency content changes the fingerprint (wavhash's blind spot
    # is spechash's whole job)
    other = [
        int(0.8 * 32767 * math.sin(2 * math.pi * 1200.0 * t / 8000)) // 4 * 4
        for t in range(400)
    ]
    assert spechash_of_payload(_pcm_wav(other)) != h
    # stereo downmixes (two identical channels == the mono signal)
    stereo = [v for v in base for _ in range(2)]
    assert spechash_of_payload(_pcm_wav(stereo, nch=2)) == h
    # too short to fill the (hash_size+1)^2 energy grid -> None
    assert spechash_of_payload(_pcm_wav(base[:40])) is None
    # off-modality / garbage -> None
    assert spechash_of_payload(_gray_bmp([128] * 64)) is None
    assert spechash_of_payload(b"junk") is None
    assert spechash_of_payload(None) is None
    # and the amplitude hash remains a DIFFERENT function (envelope
    # view): same clip, different word
    assert wavhash_of_payload(_pcm_wav(base)) != h


def test_vhash_spechash_distributed_columns(spark):
    """The new family members ride the one shared Arrow mapper with the
    single-arg convention; modality NULL pattern holds distributed."""
    from gluestick_ts_spark.operators.imagehash import (
        media_hashes,
        spechash_of_payload,
        vhash_of_payload,
    )
    from gluestick_ts_spark.operators.media_codecs import avi_encode

    import math

    frames = [
        [((k * 31 + x) % 256, (y * 43) % 256, (x * y + k) % 256)
         for y in range(8) for x in range(8)]
        for k in range(2)
    ]
    wav = _pcm_wav(
        [int(0.5 * 32767 * math.sin(2 * math.pi * 300.0 * t / 8000))
         for t in range(300)]
    )
    rows = [
        (0, avi_encode(8, 8, frames, fps=4)),
        (1, wav),
        (2, _gray_bmp([128] * 64)),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {
        r.doc_id: (r.vhash, r.spechash)
        for r in media_hashes(
            df, columns={"vhash": vhash_of_payload, "spechash": spechash_of_payload}
        ).collect()
    }
    assert out[0] == (vhash_of_payload(rows[0][1]), None)
    assert out[1] == (None, spechash_of_payload(wav))
    assert out[2] == (None, None)
    assert out[3] == (None, None)


def test_vhash_even_sampling_trim_robustness():
    """sample="even" (round 11): even ordinals survive head trims that
    shift every frame the first-k sampler sees; short videos degrade
    to first-k; GIF even-sampling composes correctly; bad mode raises."""
    from gluestick_ts_spark.operators.imagehash import vhash_of_payload
    from gluestick_ts_spark.operators.media_codecs import avi_encode, gif_encode

    def frame(seed, k):
        return [
            ((seed * 31 + k * 11 + x * 29) % 256, (seed * 7 + y * 43) % 256,
             (x * y + seed + k) % 256)
            for y in range(8)
            for x in range(8)
        ]

    frames = [frame(5, k) for k in range(20)]
    full = avi_encode(8, 8, frames, fps=8)
    trimmed = avi_encode(8, 8, frames[2:], fps=8)  # head-trim re-upload

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    d_first = ham(
        vhash_of_payload(full, n_frames=5),
        vhash_of_payload(trimmed, n_frames=5),
    )
    d_even = ham(
        vhash_of_payload(full, n_frames=5, sample="even"),
        vhash_of_payload(trimmed, n_frames=5, sample="even"),
    )
    # even sampling must not be WORSE than first-k under a trim, and
    # on this planted content it is strictly better (0 vs 8 measured)
    assert d_even <= d_first
    assert d_even <= 2, (d_even, d_first)
    # a video shorter than n_frames: both modes see all frames
    short = avi_encode(8, 8, frames[:3], fps=8)
    assert vhash_of_payload(short, n_frames=5) == vhash_of_payload(
        short, n_frames=5, sample="even"
    )
    # still GIF: even == first == the frame's dhash
    g = gif_encode(8, 8, [((k * 37) % 256,) * 3 for k in range(64)])
    assert vhash_of_payload(g, sample="even") == vhash_of_payload(g)
    with pytest.raises(ValueError, match="sample"):
        vhash_of_payload(full, sample="middle")


def test_avi_frames_at_positional_sampler():
    """avi_frames_at: exactly the requested ordinals, ascending; past-
    the-end ordinals skipped; decodes only the picks; validation."""
    from gluestick_ts_spark.operators.avi_codec import avi_encode, avi_frames, avi_frames_at
    from gluestick_ts_spark.operators.media_codecs import jpeg_decode

    def frame(k):
        return [((k * 31 + x) % 256, (x * 3) % 256, (k + x) % 256)
                for x in range(64)]

    payload = avi_encode(8, 8, [frame(k) for k in range(7)], fps=4)
    first = avi_frames(payload, 7)
    got = avi_frames_at(payload, [0, 3, 6])
    assert got == [first[0], first[3], first[6]]
    # unordered/duplicate input normalizes; past-the-end skipped
    assert avi_frames_at(payload, [6, 0, 0, 25]) == [first[0], first[6]]
    for f in got:
        jpeg_decode(f)  # every pick is a standalone decodable JPEG
    with pytest.raises(ValueError, match="indices"):
        avi_frames_at(payload, [])
    with pytest.raises(ValueError, match="indices"):
        avi_frames_at(payload, [-1, 2])


def test_vtrim_fixtures_pair_only_under_even_sampling():
    """r12: the vtrim leg's planted head-trimmed re-uploads pair at
    hamming 0 under the even-ordinal sampler and sit far past the
    max_hamming=8 gate under the first-k sampler — every driver-visible
    vtrim pair exists ONLY because of sample='even' (the trim-robust
    mode the SURVEY advertises)."""
    from gluestick_ts_spark.operators.imagehash import vhash_of_payload
    from gluestick_ts_spark.plans.queries import _vtrim_synth_payload

    def ham(a, b):
        return bin(a ^ b).count("1")

    evens = []
    for g in range(10):
        base = _vtrim_synth_payload(g)
        trim = _vtrim_synth_payload(g + 10)
        e = ham(
            vhash_of_payload(base, sample="even"),
            vhash_of_payload(trim, sample="even"),
        )
        f = ham(vhash_of_payload(base), vhash_of_payload(trim))
        assert e == 0, (g, e)
        assert f > 8, (g, f)  # first-mode NEVER pairs these
        evens.append(vhash_of_payload(base, sample="even"))
    # cross-group even-mode distances stay far from the gate
    assert min(
        ham(evens[a], evens[b])
        for a in range(10)
        for b in range(a + 1, 10)
    ) > 8


def test_stream_media_dedup_frozen_signing_recipe(spark, tmp_path):
    """Round 16 (VERDICT #1): the media hash store freezes its signing
    recipe — a stream resumed under a DIFFERENT recipe (vhash "even"
    vs the frozen dhash; a different grid size) raises instead of
    silently Hamming-comparing incomparable 64-bit codes; an
    identical-recipe resume proceeds; max_hamming drift is a query
    knob (warns, does not raise)."""
    import json
    import os

    from gluestick_ts_spark.streaming.incremental import stream_media_dedup

    def img(seed):
        return _gray_bmp(
            [220 if (seed * 31 + 17 * k) % 3 % 2 else 20 for k in range(64)]
        )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, content binary"
    emitted: set = set()

    def emit(df, batch_id):
        emitted.update(r.doc_id for r in df.collect())

    os.makedirs(store, exist_ok=True)

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    def run(ck, **kwargs):
        q = stream_media_dedup(
            spark.readStream.schema(schema).parquet(src), store, emit,
            checkpoint_dir=str(tmp_path / ck), **kwargs,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        return q

    put([(1, img(1)), (2, img(5))])
    run("ck1")
    assert emitted == {1, 2}
    meta = json.load(open(store + "/media_signing.json"))
    assert meta["signing"]["hash_kind"] == "dhash"
    assert meta["max_hamming"] == 6

    # drifted recipe: vhash-even against the frozen dhash store
    put([(3, img(9))])
    with pytest.raises(StreamingQueryException, match="frozen recipe"):
        run("ck2", hash_kind="vhash", vhash_sample="even")
    # drifted grid size raises too
    with pytest.raises(StreamingQueryException, match="hash_size"):
        run("ck3", hash_size=4)

    # identical recipe resumes; max_hamming drift only warns
    emitted.clear()
    run("ck4", max_hamming=8)
    assert emitted == {3}


def test_stream_media_dedup_legacy_store_and_stamp(spark, tmp_path):
    """Round 16: a legacy store (hashes but no sidecar) is treated as
    the dhash default — a non-default declaration raises and names the
    migration helper; stamp_media_signing attests the real recipe
    without re-hashing, after which the declared resume proceeds (and
    a CONFLICTING stamp refuses)."""
    import os

    import pytest as _pytest

    from gluestick_ts_spark.operators.imagehash import (
        media_signing,
        stamp_media_signing,
    )
    from gluestick_ts_spark.streaming.incremental import stream_media_dedup

    store = str(tmp_path / "store")
    os.makedirs(store)
    # legacy layout: bare (id, hash) rows, no sidecar
    spark.createDataFrame(
        [(1, 42), (2, 77)], "id long, hash long"
    ).write.parquet(store + "/hashes.parquet")

    src = str(tmp_path / "src")
    schema = "doc_id long, vh long"
    spark.createDataFrame([(9, 2**63 - 1)], schema).write.parquet(src)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    def run(ck, **kwargs):
        q = stream_media_dedup(
            spark.readStream.schema(schema).parquet(src), store,
            lambda df, b: df.collect(), hash_col="vh",
            checkpoint_dir=str(tmp_path / ck), **kwargs,
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        return q

    with pytest.raises(StreamingQueryException, match="stamp_media_signing"):
        run("ck1", hash_kind="vhash", vhash_sample="even")

    # ordering corner: an older release's crashed rename-swap
    # COMPACTION parks the legacy hashes aside with the data path
    # absent — the store must NOT look fresh in that window (it is
    # refused before the signing check), so the drifted declaration
    # cannot self-attest over a legacy store
    os.rename(
        store + "/hashes.parquet", store + "/hashes.parquet.pre-compact"
    )
    with pytest.raises(StreamingQueryException, match="interrupted compaction"):
        run("ck1b", hash_kind="vhash", vhash_sample="even")
    assert not os.path.exists(store + "/media_signing.json")
    os.rename(
        store + "/hashes.parquet.pre-compact", store + "/hashes.parquet"
    )

    stamp_media_signing(
        spark, store, media_signing("vhash", vhash_sample="even")
    )
    # identical re-stamp is a no-op; a conflicting one refuses
    stamp_media_signing(
        spark, store, media_signing("vhash", vhash_sample="even")
    )
    with _pytest.raises(ValueError, match="differing"):
        stamp_media_signing(spark, store, media_signing("ahash"))

    q = run("ck2", hash_kind="vhash", vhash_sample="even")
    assert q.exception() is None, q.exception()
    stored = {
        r.id for r in spark.read.parquet(store + "/hashes.parquet").collect()
    }
    assert stored == {1, 2, 9}
