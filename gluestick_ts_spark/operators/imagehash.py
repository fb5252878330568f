"""Perceptual image hashing + Hamming near-dup pairs — the multimodal
half of the dedup family (the reference has no media operators; this
is a scale-extension surface like ``multimodal.py``).

- ``dhash_of_payload`` / ``ahash_of_payload``: pure-Python 64-bit
  difference-hash / average-hash over the repo's own stdlib BMP/PNG
  decoders (``media_codecs.py``). Integer-only arithmetic throughout
  (luma = (299r+587g+114b)//1000, floor mean, nearest-neighbor index
  maps), so a hash is bit-identical on every platform and can embed as
  a SQL literal for DuckDB oracles — the ``_mm_synth_payload``
  pattern.
- ``vhash_of_payload`` / ``spechash_of_payload`` (round 11): the video
  and spectral-audio members — frame-majority dHash over the sampled
  frames of an MJPEG-AVI / animated GIF, and the Haitsma-Kalker
  energy-difference fingerprint (volume-invariant, the
  loudness-normalized-re-upload complement to ``wavhash``).
- ``image_dhash``: the distributed column — Arrow ``mapInPandas``
  batches, one decode per payload, NULL for undecodable/non-image
  payloads (the labeled-fake philosophy of ``multimodal.py``: a mixed
  corpus never fails mid-job).
- ``hamming_neardup_pairs``: pigeonhole-banded Hamming join over ANY
  64-bit hash column (the ``simhash_pairs`` machinery generalized to a
  precomputed column): split the hash into ``n_blocks > max_hamming``
  bands; any pair within ``max_hamming`` agrees on >= 1 full band, so
  banding has recall 1.0 and the exact ``bit_count(xor)`` post-filter
  makes the output EQUAL the quadratic pair set — what the SQL oracle
  brute-forces. Candidates come from equi-joins on (block, value);
  never a cross join.

100 TB shape: hashing is map-only (the image bytes never shuffle — the
64-bit hash column is what moves); the band join keys are short and
AQE-skew-splittable.

CODEC-VERSION COUPLING: a stored hash is a function of the DECODER —
any decode-changing codec fix (e.g. honoring GIF transparency) shifts
the hashes of affected payloads, so durable hash stores built before
such a change silently stop matching re-arrivals of the same bytes.
When a codec fix lands, rebuild the media-hash stores (rehash from
payloads) or accept the documented recall loss on the affected
format. Round 11 is such a version: progressive JPEGs now decode for
real (previously fake-path hashes) and EXIF-rotated JPEGs hash
upright — stores holding hashes of either class need a rebuild. A solid-color corpus degenerates to one band
bucket — the same hot-value caveat ``simhash_pairs`` documents; the
join (not a bucket groupBy) keeps it inside AQE's skew-split reach.
"""

from __future__ import annotations

import functools
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .media_codecs import IMAGE_DECODERS, sniff_format

__all__ = [
    "dhash_of_payload",
    "ahash_of_payload",
    "wavhash_of_payload",
    "rot_min_dhash_of_payload",
    "vhash_of_payload",
    "spechash_of_payload",
    "image_dhash",
    "media_hashes",
    "hamming_neardup_pairs",
    "hamming_join",
    "media_dedup",
    "media_dedup_incremental",
    "media_signing",
    "check_media_signing",
    "stamp_media_signing",
]


def _gray_grid(payload: bytes, out_w: int, out_h: int) -> list[list[int]] | None:
    """Decode a BMP/PNG/JPEG/GIF payload and nearest-neighbor-resize its
    integer luma plane to ``out_w x out_h``. None when the payload is
    not a decodable image. JPEG covers baseline AND progressive (SOF2)
    since round 11, with EXIF orientation normalized upright before
    hashing (``jpeg_codec``)."""
    fmt = sniff_format(payload)
    decoder = IMAGE_DECODERS.get(fmt)
    if decoder is None:
        return None
    try:
        w, h, px = decoder(payload)
    except ValueError:
        return None
    if w <= 0 or h <= 0:
        return None
    grid = []
    for oy in range(out_h):
        sy = (oy * h) // out_h
        row = []
        for ox in range(out_w):
            sx = (ox * w) // out_w
            r, g, b = px[sy * w + sx]
            row.append((299 * r + 587 * g + 114 * b) // 1000)
        grid.append(row)
    return grid


def dhash_of_payload(payload: bytes | None, hash_size: int = 8) -> int | None:
    """64-bit (for the default size 8) difference hash: resize the
    luma plane to ``(hash_size+1) x hash_size``, bit ``y*size + x`` set
    iff ``luma[y][x] > luma[y][x+1]`` (the standard dHash). Returns a
    SIGNED 64-bit int (bit 63 may be set), matching Spark LongType.
    A size-N hash is N*N bits — only N <= 8 fits the LongType columns
    (``media_hashes`` enforces this; larger sizes are for driver-side
    use only, and the signed-64 wrap applies only at N == 8)."""
    if payload is None:
        return None
    grid = _gray_grid(payload, hash_size + 1, hash_size)
    if grid is None:
        return None
    v = 0
    for y in range(hash_size):
        for x in range(hash_size):
            if grid[y][x] > grid[y][x + 1]:
                v |= 1 << (y * hash_size + x)
    return v - (1 << 64) if v >= 1 << 63 else v


def rot_min_dhash_of_payload(payload: bytes | None, hash_size: int = 8) -> int | None:
    """Rotation-CANONICAL dHash: the unsigned minimum of the four
    right-angle rotations' dHashes. EXIF normalization (round 11)
    handles TAGGED rotations; this handles the untagged ones
    (screenshots, scans, stripped-metadata re-uploads). Exactly
    invariant under any right-angle rotation of the input pixels —
    the four rotations of a rotated image are the same four images,
    so the min is unchanged — while lossy re-encodes land at small
    Hamming distance like any dHash near-dup. Mirror flips are NOT
    canonicalized (a mirrored meme is arguably different content);
    extend to the 8-element dihedral min if that changes. Same decode
    cost as ``dhash_of_payload`` (one decode, four tiny grid passes);
    integer-exact and SQL-literal-embeddable like the whole family."""
    if payload is None:
        return None
    fmt = sniff_format(payload)
    decoder = IMAGE_DECODERS.get(fmt)
    if decoder is None:
        return None
    try:
        w, h, px = decoder(payload)
    except ValueError:
        return None
    if w <= 0 or h <= 0:
        return None
    lum = [
        [
            (299 * px[y * w + x][0] + 587 * px[y * w + x][1]
             + 114 * px[y * w + x][2]) // 1000
            for x in range(w)
        ]
        for y in range(h)
    ]

    def dhash_of(mat: list[list[int]]) -> int:
        mh, mw = len(mat), len(mat[0])
        v = 0
        for oy in range(hash_size):
            sy = (oy * mh) // hash_size
            for ox in range(hash_size):
                sxa = (ox * mw) // (hash_size + 1)
                sxb = ((ox + 1) * mw) // (hash_size + 1)
                if mat[sy][sxa] > mat[sy][sxb]:
                    v |= 1 << (oy * hash_size + ox)
        return v

    best = None
    mat = lum
    for _ in range(4):
        v = dhash_of(mat)
        if best is None or v < best:
            best = v
        # rotate 90° CW: out[i][j] = mat[H-1-j][i]
        mh, mw = len(mat), len(mat[0])
        mat = [[mat[mh - 1 - j][i] for j in range(mh)] for i in range(mw)]
    return best - (1 << 64) if best >= 1 << 63 else best


def ahash_of_payload(payload: bytes | None, hash_size: int = 8) -> int | None:
    """Average hash: ``hash_size x hash_size`` luma grid, bit set iff
    the pixel exceeds the FLOOR mean (integer division keeps the
    threshold engine-exact)."""
    if payload is None:
        return None
    grid = _gray_grid(payload, hash_size, hash_size)
    if grid is None:
        return None
    flat = [v for row in grid for v in row]
    mean = sum(flat) // len(flat)
    v = 0
    for i, lum in enumerate(flat):
        if lum > mean:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def wavhash_of_payload(payload: bytes | None, hash_size: int = 8) -> int | None:
    """64-bit audio "energy dHash" for PCM WAV payloads — the audio
    twin of ``dhash_of_payload``: split the raw integer samples into
    ``hash_size**2 + 1`` equal time windows, bit ``i`` set iff
    ``sum(|s|)`` of window ``i`` exceeds window ``i+1``. Pure integer
    arithmetic over the decoded sample words (no float normalization),
    so the hash is bit-identical everywhere and SQL-literal-embeddable.
    Robust to amplitude-preserving near-dups (re-trims, low-level
    noise flip only near-tie windows); NOT a chromaprint — frequency
    shifts change it, which is the right behavior for exact-ish
    re-encode detection. None for non-WAV/undecodable payloads.

    Window energies are numpy-vectorized (``frombuffer`` + int64
    ``abs`` + cumsum differencing — ~50x less Python time per payload
    than the per-sample loop it replaced, the dominant cost for
    multi-minute audio); the int64 accumulator reproduces Python's
    arbitrary-precision sums exactly for any realistic payload (a
    64-bit overflow needs > 2^32 samples of 32-bit audio — petabyte
    single payloads)."""
    import io
    import wave

    import numpy as np

    if payload is None or sniff_format(payload) != "wav":
        return None
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sampwidth = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except (wave.Error, EOFError):
        return None
    count = len(raw) // sampwidth
    if count == 0:
        return None
    if sampwidth == 3:
        # 24-bit PCM (round 10): assemble little-endian 3-byte words
        # and sign-extend — studio-grade WAVs are commonly 24-bit
        b = np.frombuffer(raw, dtype=np.uint8, count=count * 3).reshape(
            count, 3
        ).astype(np.int64)
        vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        vals -= (vals & 0x800000) << 1
    else:
        dtype = {1: np.int8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(
            sampwidth
        )
        if dtype is None:
            return None
        vals = np.frombuffer(raw, dtype=dtype, count=count)
    # abs AFTER the int64 widen: np.abs(int8(-128)) wraps to -128,
    # Python's abs() does not — the widen keeps them identical
    absvals = np.abs(vals.astype(np.int64))
    n_win = hash_size * hash_size + 1
    # windows are the same (i*count)//n_win slices as the scalar loop;
    # cumsum differencing (not reduceat) so EMPTY windows (count <
    # n_win) sum to 0, matching sum() over an empty slice
    csum = np.concatenate(([0], np.cumsum(absvals)))
    bounds = (np.arange(n_win + 1, dtype=np.int64) * count) // n_win
    energies = csum[bounds[1:]] - csum[bounds[:-1]]
    v = 0
    for i in range(hash_size * hash_size):
        if energies[i] > energies[i + 1]:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def vhash_of_payload(
    payload: bytes | None,
    n_frames: int = 5,
    hash_size: int = 8,
    sample: str = "first",
) -> int | None:
    """64-bit temporal VIDEO hash: dHash the first ``n_frames`` sampled
    frames (MJPEG-AVI demux / animated-GIF compose — the containers
    ``sample_frames`` already handles), then bitwise STRICT-MAJORITY
    vote across the frame hashes (bit set iff set in > half the
    frames). The video twin of ``dhash_of_payload``: a re-muxed /
    fps-retagged copy (same frames, different container metadata)
    hashes identically; a lossy per-frame re-encode lands at small
    Hamming distance (each bit flips only if it flips in a majority of
    frames — strictly more stable than any single frame's dHash); a
    single corrupted or swapped frame among >= 3 moves nothing unless
    it tips a majority. A still GIF degenerates to its one frame's
    dHash. Integer-exact and SQL-literal-embeddable like the family.

    ``sample``: "first" (default) takes the first ``n_frames`` —
    strictly cost-bounded, later frames never touched; "even" spreads
    the picks across the whole stream ([j*n/k] ordinals from the
    header frame count), making the signature robust to head/tail
    TRIMS that shift every frame the first-k sampler sees — for AVI
    the extra cost is a header-only chunk walk (decodes stay at
    ``n_frames``); for animated GIF, frame COMPOSITION forces decoding
    up to the last pick, so "even" costs O(stream length) there.
    None for non-video containers (images fill ``dhash``, audio
    ``wavhash`` — the NULL-pattern tells the modality) and for
    undecodable payloads. Cost is bounded by ``n_frames`` — later
    frames of a long video are never decoded.

    Why ``"first"`` stays the default (round-13 decision): the two
    modes trade robustness against a worst-case cost bound. "even" is
    strictly more robust (head/tail trims — the vtrim driver leg
    proves it end-to-end at hamming 0 vs 17-38 for first-k) and costs
    the same decode count on AVI (positional demux), but on animated
    GIF every frame is a DELTA over the previous composition, so
    "even"'s last pick forces decoding the whole stream — a
    crawl-supplied multi-megabyte GIF turns a bounded per-record cost
    into an O(payload) one, the exact failure class the WARC-side
    bomb caps exist to prevent. A default must be safe on the
    untrusted path; callers that know their corpus is AVI-shaped (or
    accept the GIF cost) opt into ``sample="even"`` per column, as
    the multimodal_features vtrim leg does."""
    if payload is None:
        return None
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    if sample not in ("first", "even"):
        raise ValueError(f"sample must be 'first' or 'even', got {sample!r}")
    fmt = sniff_format(payload)
    try:
        if fmt == "avi":
            if sample == "even":
                from .avi_codec import avi_frames_at, avi_probe

                _w, _h, nf, _fps = avi_probe(payload)
                k = min(n_frames, max(nf, 1))
                frames = avi_frames_at(
                    payload, [(j * max(nf, 1)) // k for j in range(k)]
                )
            else:
                from .avi_codec import avi_frames

                frames = avi_frames(payload, n_frames)
        elif fmt == "gif":
            from .media_codecs import gif_decode_frames, gif_frames

            if sample == "even":
                from .media_codecs import png_encode

                # bounded like the AVI sampler's _MAX_FRAMES: a forged
                # header can't make "even" decode an unbounded animation
                w, h, decoded = gif_decode_frames(payload, max_frames=4096)
                nf = max(len(decoded), 1)
                k = min(n_frames, nf)
                picks = sorted({(j * nf) // k for j in range(k)})
                frames = [png_encode(w, h, decoded[i]) for i in picks]
            else:
                frames = gif_frames(payload, n_frames)
        else:
            return None
    except ValueError:
        return None
    ones = [0] * (hash_size * hash_size)
    n = 0
    for frame in frames:
        h = dhash_of_payload(frame, hash_size)
        if h is None:
            continue
        h &= (1 << 64) - 1
        n += 1
        for i in range(hash_size * hash_size):
            if h >> i & 1:
                ones[i] += 1
    if n == 0:
        return None
    v = 0
    for i, c in enumerate(ones):
        if 2 * c > n:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def spechash_of_payload(payload: bytes | None, hash_size: int = 8) -> int | None:
    """64-bit SPECTRAL audio fingerprint — the Haitsma-Kalker (ISMIR
    2002, "A Highly Robust Audio Fingerprint System") energy-difference
    scheme sized to one word: split the downmixed signal into
    ``hash_size + 1`` equal time windows and each window's FFT power
    spectrum (DC excluded) into ``hash_size + 1`` equal bands, then
    bit ``t*hash_size + b`` = sign of the time-and-band double
    difference ``(E[t+1][b] - E[t+1][b+1]) - (E[t][b] - E[t][b+1])``.

    Every bit compares energy DIFFERENCES, so a uniform gain scales
    all terms by gain^2 and flips nothing — invariance BY CONSTRUCTION
    (sign of a difference-of-differences is scale-invariant), where
    ``wavhash_of_payload``'s gain tolerance is incidental (its
    window-energy comparisons survive gain but near-tie windows flip
    under the requantization a real loudness-normalized re-encode
    applies). And spechash reads FREQUENCY structure, which the pure
    time-envelope wavhash has no principled view of — together they
    cover the two re-upload axes a curation pipeline actually sees.
    A transposed melody still differs, which is the right sensitivity
    for near-dup detection, not genre matching.

    None for non-WAV/undecodable payloads and for clips too short to
    fill the grid (each window must yield > ``hash_size`` usable FFT
    bins — under ~0.02 s at 8 kHz). float64 numpy throughout: the
    hash is deterministic for a given numpy build, which is the
    oracle's situation (driver and workers share one env); it is NOT
    cross-platform bit-pinned like the integer family, so durable
    stores of spechashes are coupled to the numpy build the way image
    hashes are coupled to the codec version (module docstring)."""
    import numpy as np

    if payload is None or sniff_format(payload) != "wav":
        return None
    from .media_codecs import wav_decode

    try:
        _rate, nch, _nf, samples = wav_decode(payload)
    except ValueError:
        return None
    if nch < 1 or not samples:
        return None
    sig = np.asarray(samples, dtype=np.float64)
    if nch > 1:
        sig = sig[: len(sig) // nch * nch].reshape(-1, nch).mean(axis=1)
    n_win = hash_size + 1
    n_bands = hash_size + 1
    count = len(sig)
    win_len = count // n_win
    # each window needs > hash_size usable (non-DC) rfft bins so every
    # band holds >= 1 bin: len//2 usable bins for a length-L window
    if win_len // 2 < n_bands:
        return None
    bounds = (np.arange(n_win + 1, dtype=np.int64) * count) // n_win
    energies = np.empty((n_win, n_bands), dtype=np.float64)
    for t in range(n_win):
        spec = np.abs(np.fft.rfft(sig[bounds[t] : bounds[t + 1]])) ** 2
        usable = spec[1:]  # drop DC: a level shift is not content
        edges = (np.arange(n_bands + 1, dtype=np.int64) * len(usable)) // n_bands
        csum = np.concatenate(([0.0], np.cumsum(usable)))
        energies[t] = csum[edges[1:]] - csum[edges[:-1]]
    v = 0
    for t in range(hash_size):
        for b in range(hash_size):
            d = (energies[t + 1, b] - energies[t + 1, b + 1]) - (
                energies[t, b] - energies[t, b + 1]
            )
            if d > 0:
                v |= 1 << (t * hash_size + b)
    return v - (1 << 64) if v >= 1 << 63 else v


def media_hashes(
    df: DataFrame,
    binary_col: str = "content",
    columns: dict | None = None,
    hash_size: int = 8,
) -> DataFrame:
    """Append SEVERAL perceptual-hash columns in ONE Arrow pass (one
    decode stage for the whole family — at scale the payload bytes are
    the cost, not the per-hash arithmetic). ``columns`` maps column
    name -> ``payload -> int | None`` — SINGLE-ARG callables, the same
    convention ``extract_media_features(hash_columns=...)`` uses (bind
    a non-default size with ``functools.partial(dhash_of_payload,
    hash_size=4)``; ``hash_size`` here applies only to the default
    columns). ``hash_size`` must stay <= 8: the output columns are
    64-bit LongType, and a size-N hash carries N*N bits (size 16 would
    be 256 bits — an Arrow overflow at write, never a silent
    truncation, but a task failure). Default ``{"dhash":
    dhash_of_payload, "wavhash": wavhash_of_payload}`` — images hash
    into ``dhash`` (wavhash NULL) and WAVs into ``wavhash`` (dhash
    NULL)."""
    if not 1 <= hash_size <= 8:
        raise ValueError(
            f"hash_size must be in [1, 8] (size**2 bits must fit the 64-bit "
            f"LongType hash columns), got {hash_size}"
        )
    if columns is None:
        columns = {
            "dhash": functools.partial(dhash_of_payload, hash_size=hash_size),
            "wavhash": functools.partial(wavhash_of_payload, hash_size=hash_size),
        }
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(name, T.LongType(), True) for name in columns]
    )

    def _mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            payloads = list(pdf[binary_col])
            for name, fn in columns.items():
                pdf[name] = pd.array(
                    [fn(b) for b in payloads], dtype="Int64"
                )
            yield pdf

    return df.mapInPandas(_mapper, schema=out_schema)


def image_dhash(
    df: DataFrame,
    binary_col: str = "content",
    hash_col: str = "dhash",
    hash_size: int = 8,
    kind: str = "dhash",
) -> DataFrame:
    """Append the perceptual hash column (``long``, NULL for
    non-image/undecodable payloads) — the single-column convenience
    form of ``media_hashes`` (one shared Arrow mapper, not a third
    copy of it)."""
    if kind not in ("dhash", "ahash"):
        raise ValueError(f"kind must be 'dhash' or 'ahash', got {kind!r}")
    fn = dhash_of_payload if kind == "dhash" else ahash_of_payload
    return media_hashes(
        df, binary_col, {hash_col: functools.partial(fn, hash_size=hash_size)}
    )


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs ``(id_a < id_b, hamming)`` with Hamming distance <=
    ``max_hamming`` between 64-bit hashes. NULL hashes are dropped (an
    undecodable image can't near-dup anything). Pigeonhole blocking
    with ``n_blocks > max_hamming`` keeps recall exactly 1.0 (see
    module docstring), so the output EQUALS the quadratic definition —
    the brute-force SQL oracle's formulation.

    Output: ``id_a, id_b, hamming`` (hamming as long).
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming must be in [0, 63], got {max_hamming} — at >= 64 "
            "every 64-bit pair matches; emit a cross join deliberately if "
            "that is really what you want"
        )
    if n_blocks is None:
        # n_blocks > max_hamming always has a legal value up to 64
        # (one block per bit); cap at 64, not 32, so max_hamming in
        # [32, 63] gets a working default instead of a refusal
        n_blocks = min(max_hamming + 1, 64)
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    bits_per = max(1, 64 // n_blocks)
    h = df.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__h")
    )
    if n_blocks == 1:
        # exact-duplicate search (max_hamming=0): the single "band" is
        # the whole hash — no mask (a 64-bit all-ones literal overflows
        # LongType), no shift
        block_exprs = [F.col("__h")]
    else:
        mask = (1 << bits_per) - 1
        block_exprs = [
            F.shiftright(F.col("__h"), i * bits_per).bitwiseAND(F.lit(mask))
            for i in range(n_blocks)
        ]
    blocks = h.select(
        "id",
        "__h",
        F.posexplode(F.array(*block_exprs)).alias("block", "block_val"),
    )
    blocks = blocks.persist()
    try:
        a = blocks.select(
            F.col("id").alias("id_a"), F.col("__h").alias("__ha"), "block", "block_val"
        )
        b = blocks.select(
            F.col("id").alias("id_b"), F.col("__h").alias("__hb"), "block", "block_val"
        )
        hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
        pairs = (
            a.join(b, on=["block", "block_val"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(hamming <= max_hamming)
            .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
            .distinct()
        )
        return pairs.localCheckpoint(eager=True)
    finally:
        blocks.unpersist()


def _band_block_exprs(col: Column, n_blocks: int, max_hamming: int) -> list:
    """The pigeonhole band expressions shared by the self-join and the
    two-relation join (validation included)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming})"
        )
    bits_per = max(1, 64 // n_blocks)
    if n_blocks == 1:
        return [col]
    mask = (1 << bits_per) - 1
    return [
        F.shiftright(col, i * bits_per).bitwiseAND(F.lit(mask))
        for i in range(n_blocks)
    ]


def hamming_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    n_blocks: int | None = None,
    right_id_col: str | None = None,
    right_hash_col: str | None = None,
) -> DataFrame:
    """All cross-relation pairs within ``max_hamming`` between two
    64-bit hash relations — the two-sided form of
    ``hamming_neardup_pairs`` (same pigeonhole recall-1.0 blocking,
    same exact ``bit_count(xor)`` post-filter; NULL hashes drop). The
    incremental-dedup primitive: ``left`` is a new batch, ``right`` a
    persisted hash store, and neither side is ever cross-joined — the
    candidates come from the (block, value) equi-join.

    Output: ``id_a`` (left), ``id_b`` (right), ``hamming`` — ALL
    matching cross pairs including equal ids (cross-relation semantics;
    filter upstream if the relations share an id space).
    """
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, 64)
    rid = right_id_col or id_col
    rhash = right_hash_col or hash_col
    a = left.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("__ha")
    )
    b = right.where(F.col(rhash).isNotNull()).select(
        F.col(rid).alias("id_b"), F.col(rhash).alias("__hb")
    )
    ab = a.select(
        "id_a",
        "__ha",
        F.posexplode(
            F.array(*_band_block_exprs(F.col("__ha"), n_blocks, max_hamming))
        ).alias("block", "block_val"),
    )
    bb = b.select(
        "id_b",
        "__hb",
        F.posexplode(
            F.array(*_band_block_exprs(F.col("__hb"), n_blocks, max_hamming))
        ).alias("block", "block_val"),
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        ab.join(bb, on=["block", "block_val"])
        .where(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .distinct()
    )


def media_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    n_blocks: int | None = None,
) -> DataFrame:
    """Perceptual media dedup: near-dup pairs -> connected components
    -> keep each cluster's minimum id (the ``dedup_clusters``
    composition over Hamming instead of Jaccard — transitive
    near-duplicates collapse to ONE survivor even when the endpoints
    of a chain differ by more than ``max_hamming``). Rows whose hash
    is NULL (non-media / undecodable) always survive — they have no
    identity to collide on."""
    from .dedup import connected_min_labels

    pairs = hamming_neardup_pairs(df, id_col, hash_col, max_hamming, n_blocks)
    labels = connected_min_labels(pairs)
    losers = labels.where(F.col("id") != F.col("label")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def media_dedup_incremental(
    new_df: DataFrame,
    store_hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    n_blocks: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental perceptual dedup of a NEW media batch against an
    accepted-corpus hash relation (schema ``id, hash`` — ~16 bytes per
    accepted item regardless of media size, which is what makes
    cross-store media dedup scale: payloads never re-read). Mirrors
    ``dedup_exact_incremental``'s contract: within-batch cluster dedup
    first, then every batch item within ``max_hamming`` of ANY stored
    hash is dropped (banded join, never a cross join). Returns
    ``(survivors, survivor_hashes)``; append the hashes to the store
    for the next batch. NULL-hash rows always survive and are never
    stored."""
    within = media_dedup(new_df, id_col, hash_col, max_hamming, n_blocks)
    hits = hamming_join(
        within,
        store_hashes,
        id_col=id_col,
        hash_col=hash_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        right_id_col="id",
        right_hash_col="hash",
    ).select(F.col("id_a").alias(id_col)).distinct()
    survivors = within.join(hits, on=id_col, how="left_anti")
    survivor_hashes = survivors.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("hash")
    )
    return survivors, survivor_hashes


_MEDIA_HASH_KINDS = (
    "dhash",
    "ahash",
    "rot_min_dhash",
    "wavhash",
    "vhash",
    "spechash",
)

_MEDIA_SIGNING_KEYS = ("hash_kind", "hash_size", "vhash_sample", "vhash_n_frames")

#: Sidecar file name the durable media-hash stores freeze their
#: signing recipe into (``<store_dir>/media_signing.json``) — the
#: ``flat_signing.json`` precedent from the minhash stores.
MEDIA_SIGNING_SIDECAR = "media_signing.json"


def media_signing(
    hash_kind: str = "dhash",
    hash_size: int = 8,
    vhash_sample: str | None = None,
    vhash_n_frames: int | None = None,
) -> dict:
    """The canonical SIGNING RECIPE record for a media-hash store: the
    parameters under which a perceptual hash was produced. Two 64-bit
    codes are Hamming-comparable ONLY when every one of these matches
    — same hash family (``hash_kind``: dhash / ahash / rot_min_dhash /
    wavhash / vhash / spechash — a dHash and an aHash of the SAME
    image differ arbitrarily), same grid (``hash_size``), and for
    video the same frame-sampling policy (``vhash_sample`` "first" vs
    "even" differ by 17-38 bits on this repo's own trim fixtures, and
    a different ``vhash_n_frames`` votes over a different frame set).
    ``stream_media_dedup`` freezes this dict into the store's
    ``media_signing.json`` sidecar on the first batch and asserts it
    every batch — the ``minhash_signing``/``store_meta.json`` contract
    (``operators/dedup.py``) applied to the one durable store the
    round-15 frozen-recipe sweep missed.

    The vhash knobs normalize to None for non-video kinds (the frame
    sampler is unreachable then — two image stores must not reject
    each other over an unused knob) and to their ``vhash_of_payload``
    defaults ("first", 5) when ``hash_kind="vhash"`` and the caller
    leaves them unset."""
    if hash_kind not in _MEDIA_HASH_KINDS:
        raise ValueError(
            f"hash_kind must be one of {_MEDIA_HASH_KINDS}, got {hash_kind!r}"
        )
    if not 1 <= int(hash_size) <= 8:
        raise ValueError(f"hash_size must be in [1, 8], got {hash_size}")
    if hash_kind == "vhash":
        sample = "first" if vhash_sample is None else vhash_sample
        if sample not in ("first", "even"):
            raise ValueError(
                f"vhash_sample must be 'first' or 'even', got {vhash_sample!r}"
            )
        n_frames = 5 if vhash_n_frames is None else int(vhash_n_frames)
        if n_frames < 1:
            raise ValueError(f"vhash_n_frames must be >= 1, got {n_frames}")
    else:
        sample, n_frames = None, None
    return {
        "hash_kind": hash_kind,
        "hash_size": int(hash_size),
        "vhash_sample": sample,
        "vhash_n_frames": n_frames,
    }


def check_media_signing(frozen: dict | None, declared: dict, caller: str) -> None:
    """Assert a batch's media signing recipe against the store's
    frozen one. Legacy stores (seeded before the sidecar existed)
    carry no recipe and are treated as the DHASH DEFAULT — the only
    recipe the pre-sidecar ``stream_media_dedup`` could produce
    internally; a batch declaring anything else against such a store
    raises, and the remedy for a store that was legitimately built
    under the declared recipe is ``stamp_media_signing`` (write the
    attestation without touching the hashes)."""
    if frozen is None:
        if declared != media_signing():
            raise ValueError(
                f"{caller}: store has no frozen media signing recipe (a "
                "legacy store is treated as the dhash default) but the "
                f"batch declares {declared}. Hamming-comparing codes from "
                "different hash recipes silently accepts/rejects garbage. "
                "If the store WAS built under the declared recipe, attest "
                "it with stamp_media_signing(spark, store_dir, "
                "media_signing(...)); otherwise rebuild the store or fix "
                "the declaration."
            )
        return
    diffs = {
        k: (frozen.get(k), declared.get(k))
        for k in _MEDIA_SIGNING_KEYS
        if frozen.get(k) != declared.get(k)
    }
    if diffs:
        raise ValueError(
            f"{caller}: batch media signing recipe does not match the "
            f"store's frozen recipe — mismatched keys (store, batch): "
            f"{diffs}. Codes hashed under different recipes are not "
            "Hamming-comparable; a resumed stream would silently compare "
            "incomparable 64-bit codes. Rebuild the store or fix the "
            "declaration."
        )


def stamp_media_signing(spark, store_dir: str, signing: dict) -> None:
    """Attest the signing recipe of a legacy media-hash store (one
    seeded before recipes were frozen) in its ``media_signing.json``
    sidecar without re-hashing. Refuses to overwrite a differing frozen
    recipe (that would launder a real mismatch into an attested one)."""
    from ..sources.fs import join_uri
    from ..sources.store import commit_meta, read_meta

    signing = media_signing(**signing)
    sidecar = join_uri(store_dir, MEDIA_SIGNING_SIDECAR)
    meta = read_meta(spark, sidecar)
    if meta is not None:
        frozen = meta.get("signing")
        if frozen != signing:
            raise ValueError(
                f"stamp_media_signing: store already carries a frozen "
                f"recipe {frozen} differing from {signing} — stamping "
                "over it would attest incomparable codes as comparable."
            )
        return
    commit_meta(spark, sidecar, {"signing": signing})
