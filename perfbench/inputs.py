"""Seeded input generators, one per workload part.

Every generator takes the workload seed and returns pyarrow tables plus a
``props`` dict describing the input (sizes, length histogram, skew and
planted shares). The same seed gives the same tables. Each part draws
from its own stream (``default_rng([seed, stream])``) so adding a draw to
one part never changes another's inputs.

The program under test only ever sees the tables, written to parquet by
``write_parquet``; the planted ground truth stays on the driver for the
output checks.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from photohive_spark.config import DEFAULT_CONFIG, VOCAB_SIZE

EPOCH_US = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**6
TS_TYPE = pa.timestamp("us", tz="UTC")   # reads back as Spark TimestampType


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _log2_hist(lens: np.ndarray) -> dict[str, int]:
    """Length histogram in power-of-two buckets: key '2^k' counts lengths
    in [2^k, 2^(k+1))."""
    b = np.floor(np.log2(np.maximum(lens, 1))).astype(int)
    vals, cnts = np.unique(b, return_counts=True)
    return {f"2^{v}": int(c) for v, c in zip(vals, cnts)}


def rows_per_length_group(lens: np.ndarray, batch_rows: int) -> float:
    """Mean rows per distinct length inside consecutive ``batch_rows``
    batches — the group size the length-grouped kernels work on."""
    sizes = []
    for s in range(0, lens.size, batch_rows):
        chunk = lens[s:s + batch_rows]
        sizes.append(chunk.size / np.unique(chunk).size)
    return float(np.mean(sizes))


def write_parquet(table: pa.Table, path: str, n_files: int,
                  row_group_rows: int) -> dict:
    """Write ``table`` as ``n_files`` parquet files (rows dealt out in
    contiguous slices) with row groups of ``row_group_rows`` rows."""
    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    row_groups = n_bytes = 0
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, f, row_group_size=row_group_rows)
        row_groups += pq.ParquetFile(f).num_row_groups
        n_bytes += os.path.getsize(f)
    return {"files": n_files, "row_groups": row_groups, "bytes": n_bytes}


def _lognormal_lengths(rng, median: float, sigma: float, n: int,
                       cap: int) -> np.ndarray:
    """``n`` log-normal lengths in [1, cap], stratified: one draw from each
    of ``n`` equal-probability strata, in random order. The length
    histogram then barely moves from seed to seed, so neither does the
    work per pass."""
    from statistics import NormalDist
    u = (np.arange(n) + rng.random(n)) / n
    z = np.array([NormalDist().inv_cdf(x) for x in u])
    lens = np.ceil(median * np.exp(sigma * z)).astype(np.int64)
    return rng.permutation(np.clip(lens, 1, cap))


# ---------------------------------------------------------------- features

FEATURES_DOCS = 6_000
FEATURES_ONE_TOKEN_SHARE = 0.01
FEATURES_MEDIAN_LEN = 128
FEATURES_SIGMA = 1.2
FEATURES_MAX_LEN = 32_768
FEATURES_FILES = 8


def features_input(seed: int) -> tuple[pa.Table, dict]:
    """Token table in the input_hint shape (doc_id, tokens, n_tok, source,
    event_ts). Lengths are stratified log-normal (median 128, sigma 1.2),
    capped at 32768, with 1% planted 1-token docs, dealt by length over
    FEATURES_FILES equal slices; tokens are uniform in the vocabulary."""
    rng = _rng(seed, 1)
    n = FEATURES_DOCS
    lens = _lognormal_lengths(rng, FEATURES_MEDIAN_LEN, FEATURES_SIGMA, n,
                              FEATURES_MAX_LEN)
    lens[rng.random(n) < FEATURES_ONE_TOKEN_SHARE] = 1
    # deal the docs, by length, round-robin over the files so every file
    # (and scan task) gets the same share of the tail
    by_len = np.argsort(lens, kind="stable")
    lens = lens[np.concatenate([rng.permutation(by_len[f::FEATURES_FILES])
                                for f in range(FEATURES_FILES)])]
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    values = rng.integers(0, VOCAB_SIZE, int(offsets[-1]), dtype=np.int32)
    sources = np.array(["web", "books", "code", "news"])
    table = pa.table({
        "doc_id": pa.array([f"f{seed}-{i:06d}" for i in range(n)]),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                           pa.array(values)),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(sources[rng.integers(0, 4, n)]),
        "event_ts": pa.array(EPOCH_US + np.arange(n, dtype=np.int64)
                             * 37_000_000, type=TS_TYPE),
    })
    props = {
        "docs": n,
        "tokens": int(offsets[-1]),
        "one_token_docs": int((lens == 1).sum()),
        "max_len": int(lens.max()),
        "length_hist_log2": _log2_hist(lens),
        "rows_per_length_group_16384": rows_per_length_group(
            lens, DEFAULT_CONFIG.arrow_batch_rows),
    }
    return table, props


# ---------------------------------------------------------------- pit_asof

# The key shape of bench.py's skewed as-of fixture (run_skew): one hot key
# holds 30% of the probes, above 1/4 of them, so on 4 cores the plain
# window pins a straggler task; the cold keys share the rest evenly; every
# key has the same number of snapshots. run_skew has 997 cold keys with
# 100 snapshots each, carrying one double. Here each snapshot carries a
# 609-wide fvec (4.9 KB), so the key count is cut to 1 hot + 49 cold and
# the 100 snapshots per key are kept: 5,000 snapshots, 23 MB of payload.
PIT_HOT_SHARE = 0.3
PIT_COLD_KEYS = 49
PIT_SNAPS_PER_KEY = 100
PIT_PROBES = 30_000
PIT_SPAN_S = 30 * 86_400


def fvec_width(cfg=DEFAULT_CONFIG) -> int:
    """Width of engine.flatten_features' fvec: 5 scalars, spectrum bands,
    autocorr, bandpass, histogram, 100x4 palette, 10x2 peaks, 10 ROIs."""
    return (5 + cfg.radius_parts + cfg.autocorr_lags + cfg.bandpass_filters
            + cfg.hist_cells + 100 * 4 + 10 * 2 + 10)


def pit_input(seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """Probe stream (probe_id, entity, probe_ts, label) and feature
    snapshots (entity, snapshot_ts, fvec array<double>). Entity 0 is the
    hot key with PIT_HOT_SHARE of the probes; the others are drawn
    uniformly from PIT_COLD_KEYS cold keys. Every key has
    PIT_SNAPS_PER_KEY snapshots. Probe and snapshot times are uniform over
    30 days; snapshot timestamps are distinct, so every as-of match is
    unique."""
    rng = _rng(seed, 2)
    width = fvec_width()
    n_keys = 1 + PIT_COLD_KEYS
    n_snaps = n_keys * PIT_SNAPS_PER_KEY
    s_key = rng.permutation(np.repeat(np.arange(n_keys), PIT_SNAPS_PER_KEY))
    s_ts = EPOCH_US + rng.choice(PIT_SPAN_S, n_snaps,
                                 replace=False).astype(np.int64) * 10**6
    fvec = rng.random((n_snaps, width))
    snaps = pa.table({
        "entity": pa.array(s_key.astype(np.int64)),
        "snapshot_ts": pa.array(s_ts, type=TS_TYPE),
        "fvec": pa.FixedSizeListArray.from_arrays(
            pa.array(fvec.ravel()), width).cast(pa.list_(pa.float64())),
    })
    n_hot = int(PIT_PROBES * PIT_HOT_SHARE)
    p_key = rng.permutation(np.concatenate([
        np.zeros(n_hot, dtype=np.int64),
        rng.integers(1, n_keys, PIT_PROBES - n_hot)]))
    p_ts = EPOCH_US + rng.integers(0, PIT_SPAN_S, PIT_PROBES) * 10**6
    probes = pa.table({
        "probe_id": pa.array(np.arange(PIT_PROBES, dtype=np.int64)),
        "entity": pa.array(p_key.astype(np.int64)),
        "probe_ts": pa.array(p_ts, type=TS_TYPE),
        "label": pa.array(rng.random(PIT_PROBES)),
    })
    props = {
        "probes": PIT_PROBES, "snapshots": n_snaps, "entities": n_keys,
        "snapshots_per_key": PIT_SNAPS_PER_KEY, "fvec_width": width,
        "hot_key_share_probes": n_hot / PIT_PROBES,
        "cold_key_probes_median": float(np.median(
            np.bincount(p_key, minlength=n_keys)[1:])),
        "fvec_mb": fvec.nbytes / 2**20,
    }
    return probes, snaps, props


def asof_expected(probes: pa.Table, snaps: pa.Table,
                  probe_ids: list[int]) -> dict[int, int | None]:
    """Driver-side as-of join for ``probe_ids``: the index into ``snaps``
    of the latest snapshot with snapshot_ts <= probe_ts, or None."""
    s_key = snaps["entity"].to_numpy()
    s_ts = snaps["snapshot_ts"].cast(pa.int64()).to_numpy()
    p_key = probes["entity"].to_numpy()
    p_ts = probes["probe_ts"].cast(pa.int64()).to_numpy()
    out = {}
    for pid in probe_ids:
        idx = np.flatnonzero((s_key == p_key[pid]) & (s_ts <= p_ts[pid]))
        out[pid] = int(idx[np.argmax(s_ts[idx])]) if idx.size else None
    return out


# ------------------------------------------------------------------ curate

CURATE_DOCS = 2_000
CURATE_VOCAB = 20_000
CURATE_ZIPF_S = 1.05
CURATE_MEDIAN_WORDS = 60
CURATE_SIGMA = 0.8
CURATE_ONE_WORD_SHARE = 0.02
CURATE_EXACT_SHARE = 0.04
CURATE_NEAR_SHARE = 0.04
CURATE_NEAR_EDIT = (0.02, 0.08)    # share of word positions replaced


def _vocab(rng) -> np.ndarray:
    from photohive_spark.text import STOPWORDS
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = list(STOPWORDS["en"])
    seen = set(words)
    while len(words) < CURATE_VOCAB:
        w = "".join(letters[rng.integers(0, 26, rng.integers(2, 10))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def shingle_set(text: str, k: int = 3) -> set[str]:
    """Distinct word k-grams (the definition dedup.word_shingle_arrays
    documents: one all-words gram below k words, "" for an empty doc)."""
    w = [x for x in text.split(" ") if x]
    if not w:
        return {""}
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def curate_input(seed: int) -> tuple[pa.Table, dict, dict]:
    """Documents (doc_id bigint, text, source) from a Zipf(1.05) vocabulary
    of 20000 words (the English stopwords ranked first). Word counts are
    stratified log-normal (median 60, sigma 0.8) with 2% one-word docs.
    4% of docs are planted exact copies and 4% planted near-duplicates
    (2-8% of word positions replaced) of other docs of at least 20 words.

    Returns (table, truth, props); ``truth`` holds the exact-duplicate
    groups by text and the planted near-dup pairs with their Jaccard."""
    rng = _rng(seed, 3)
    vocab = _vocab(rng)
    p = np.arange(1, vocab.size + 1, dtype=float) ** -CURATE_ZIPF_S
    p /= p.sum()
    n = CURATE_DOCS
    n_exact = int(n * CURATE_EXACT_SHARE)
    n_near = int(n * CURATE_NEAR_SHARE)
    n_base = n - n_exact - n_near
    lens = _lognormal_lengths(rng, CURATE_MEDIAN_WORDS, CURATE_SIGMA,
                              n_base, 2_000)
    lens[rng.random(n_base) < CURATE_ONE_WORD_SHARE] = 1
    flat = vocab[rng.choice(vocab.size, int(lens.sum()), p=p)]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n_base)]
    words = [flat[offs[i]:offs[i + 1]] for i in range(n_base)]

    long_docs = np.flatnonzero(lens >= 20)
    near_src = rng.choice(long_docs, n_near)
    near_pairs = []
    for src in near_src:
        w = words[src].copy()
        n_edit = max(1, int(round(w.size * rng.uniform(*CURATE_NEAR_EDIT))))
        pos = rng.choice(w.size, n_edit, replace=False)
        w[pos] = vocab[rng.choice(vocab.size, n_edit, p=p)]
        near_pairs.append((int(src), len(texts)))
        texts.append(" ".join(w))
    exact_src = rng.choice(n_base, n_exact)
    for src in exact_src:
        texts.append(texts[src])

    # shuffle positions -> doc ids, so planted copies are not adjacent
    doc_id = rng.permutation(n)        # doc_id[position]
    order = np.argsort(doc_id)
    texts_by_id = [texts[i] for i in order]
    sources = np.array(["web", "books", "code", "news"])
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts_by_id),
        "source": pa.array(sources[rng.integers(0, 4, n)]),
    })

    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts_by_id):
        groups.setdefault(t, []).append(i)
    dup_groups = {min(g): len(g) for g in groups.values() if len(g) > 1}
    pairs = []
    for a, b in near_pairs:
        ia, ib = sorted((int(doc_id[a]), int(doc_id[b])))
        if texts_by_id[ia] != texts_by_id[ib]:
            pairs.append((ia, ib, jaccard(texts_by_id[ia], texts_by_id[ib])))
    n_words = np.array([len([w for w in t.split(" ") if w])
                        for t in texts_by_id])
    truth = {"texts": texts_by_id, "dup_groups": dup_groups,
             "near_pairs": pairs, "n_words": n_words}
    props = {
        "docs": n, "vocab": CURATE_VOCAB, "zipf_s": CURATE_ZIPF_S,
        "words": int(n_words.sum()),
        "one_word_docs": int((n_words == 1).sum()),
        "word_hist_log2": _log2_hist(n_words),
        "planted_exact_share": n_exact / n,
        "planted_near_share": n_near / n,
        "exact_dup_groups": len(dup_groups),
        "exact_dup_docs": int(sum(dup_groups.values())),
        "near_pairs": len(pairs),
        "near_pair_jaccard_median": float(np.median([j for *_, j in pairs])),
    }
    return table, truth, props


# ------------------------------------------------------------------ images

IMAGE_SIZES = [(120, 160), (240, 320), (360, 480), (480, 640)]
IMAGE_DISTINCT = 8
IMAGE_ROWS = 32
IMAGE_FILES = 4


def _encode(slot: int, img: np.ndarray) -> tuple[str, bytes]:
    """Codec for corpus slot ``slot``: 3/8 baseline JPEG, 2/8 progressive
    JPEG, 2/8 Paeth-filtered PNG, 1/8 web-palette GIF."""
    from photohive_spark import gif, jpeg, png
    m = slot % 8
    if m in (3, 7):
        return "png", png.encode_png(img, filter_type=4)
    if m in (2, 6):
        return "jpeg_progressive", jpeg.encode_jpeg_progressive(img,
                                                                quality=85)
    if m == 5:
        levels = np.array([0, 51, 102, 153, 204, 255])
        q = np.argmin(np.abs(img[..., None].astype(int) - levels), axis=3)
        idx = (q[:, :, 0] * 36 + q[:, :, 1] * 6 + q[:, :, 2]).astype(np.uint8)
        return "gif", gif.encode_gif(idx)
    return "jpeg_baseline", jpeg.encode_jpeg(img, quality=85)


def images_input(seed: int) -> tuple[pa.Table, list, dict]:
    """Mixed-codec corpus: 8 distinct images, slot i at size class i % 4
    and codec slot i % 8 (the size classes and codec mix of the frozen
    bench corpus), content hardness i % 3 (smooth gradient -> noise
    blend). The seed draws the gradient direction and the noise. The 8
    payloads are cycled to 32 rows (media_id m-<row>), so each of the
    IMAGE_FILES equal slices holds every slot once.

    Returns (media table in multimodal.MEDIA_SCHEMA shape, distinct
    [(kind, payload, h, w)], props)."""
    rng = _rng(seed, 4)
    corpus = []
    for i in range(IMAGE_DISTINCT):
        h, w = IMAGE_SIZES[i % len(IMAGE_SIZES)]
        yy, xx = np.mgrid[0:h, 0:w]
        fx, fy = rng.uniform(0.5, 2.0, 2)
        smooth = ((xx * 255 * fx) // w + (yy * 127 * fy) // h).astype(int)
        noise = rng.integers(0, 256, (h, w, 3))
        blend = i % 3
        img = (((smooth[..., None] * (2 - blend) + noise * (blend + 1))
                // 3) % 256).astype(np.uint8)
        kind, payload = _encode(i, img)
        corpus.append((kind, payload, h, w))
    rows = [corpus[j % IMAGE_DISTINCT] for j in range(IMAGE_ROWS)]
    table = pa.table({
        "media_id": pa.array([f"m-{j:04d}" for j in range(IMAGE_ROWS)]),
        "kind": pa.array(["image"] * IMAGE_ROWS),
        "payload": pa.array([r[1] for r in rows], type=pa.binary()),
        "meta_width": pa.array([r[3] for r in rows], type=pa.int32()),
        "meta_height": pa.array([r[2] for r in rows], type=pa.int32()),
        "meta_sample_rate": pa.nulls(IMAGE_ROWS, type=pa.int32()),
        "meta_n_frames": pa.nulls(IMAGE_ROWS, type=pa.int32()),
    })
    mix: dict[str, int] = {}
    mp: dict[str, float] = {}
    for kind, _, h, w in rows:
        mix[kind] = mix.get(kind, 0) + 1
        mp[kind] = mp.get(kind, 0.0) + h * w / 1e6
    props = {"rows": IMAGE_ROWS, "distinct": IMAGE_DISTINCT,
             "codec_rows": mix, "codec_megapixels": mp,
             "megapixels": float(sum(mp.values())),
             "payload_bytes": int(sum(len(r[1]) for r in rows))}
    return table, corpus, props
