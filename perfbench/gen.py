"""Seeded input generators for the benchmark.

Every table is a pure function of seed % VARIANTS (and, for the ARD, its
size): the same seed writes the same rows. Two families:

- corpus: `documents`, `embeddings` and `events` with the statistics of
  the graft sf0.1 fixture (a 30-word uniform vocabulary, 10-100 tokens
  per doc, 5% "<base> dup" near-duplicates, 8 exact-duplicate pairs,
  unit-norm 64-d gaussian vectors over 10 labels, a 30-day event log of
  1,500 users with exponential values and `{"k": n}` props).
- ard: Landsat-like ARD and aux series for whole 100x100-pixel chips of
  the tile at the CLI point, on a 16-day revisit with a QA-masked share
  and a planted-break share.

Run as a script to write one workload's inputs:
    python3 perfbench/gen.py corpus OUT SEED
    python3 perfbench/gen.py ard OUT SEED CHIPS YEARS
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = sorted("a agg batch big column customer data fast filter group hash "
               "join key line merge order part query row scan slow small sort "
               "spark stream table the value vector window".split())
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
BASE_DOCS, BASE_VECS, BASE_EVENTS, USERS = 5000, 2000, 100_000, 1500
VARIANTS = 5  # distinct input contents; see corpus()

# The CLI point whose tile the ARD covers, and the chip grid (graft.grid.Grid).
TILE_X, TILE_Y = -2565585.0, 3314805.0
CHIP_M, PIXEL_M, CHIPS_PER_EDGE, PIXELS_PER_EDGE = 3000, 30, 50, 100
CLEAR_QA = np.array([66, 322], np.int32)
MASKED_QA = np.array([480, 2720], np.int32)


def _base_docs(rng):
    n, v = BASE_DOCS, len(VOCAB)
    lens = rng.integers(10, 101, n)
    toks = [rng.integers(0, v, k) for k in lens]
    # 250 near duplicates: another doc's tokens plus a trailing "dup".
    near = rng.choice(n, 250, replace=False)
    texts = [None] * n
    for i in range(n):
        texts[i] = " ".join(VOCAB[t] for t in toks[i])
    for i in near:
        j = int(rng.integers(0, n))
        j = j if j != i else (j + 1) % n
        texts[i] = " ".join(VOCAB[t] for t in toks[j]) + " dup"
    # 8 exact duplicate pairs among the plain docs.
    plain = np.setdiff1d(np.arange(n), near)
    pairs = rng.choice(plain, 16, replace=False)
    for a, b in zip(pairs[::2], pairs[1::2]):
        texts[b] = texts[a]
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return texts, lang


def documents(seed):
    rng = np.random.default_rng([seed, 1])
    texts, lang = _base_docs(rng)
    ids = np.arange(len(texts))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in lang], pa.string()),
        "source": pa.array([f"src{j % 20}" for j in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed):
    rng = np.random.default_rng([seed, 2])
    m = BASE_VECS
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, m * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    })


def events(seed):
    rng = np.random.default_rng([seed, 3])
    n = BASE_EVENTS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n))
    user = rng.integers(0, USERS, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def corpus(out, seed):
    """Tables of variant seed % VARIANTS: answers depend on the variant only,
    so each variant's expected outputs are recorded once, from a run whose
    outputs matched the DuckDB oracle. Rows stay in id order, the layout of
    the graft fixtures."""
    os.makedirs(out, exist_ok=True)
    for name, fn in (("documents", documents), ("embeddings", embeddings),
                     ("events", events)):
        pq.write_table(fn(seed % VARIANTS), f"{out}/{name}.parquet")


def _ordinal(y, m, d):
    return datetime.date(y, m, d).toordinal()


def chip_ids(chips):
    """The first `chips` chips, row-major, of the tile holding the CLI point."""
    h = np.floor((TILE_X + 2565585.0) / 150000.0)
    v = np.floor((-TILE_Y + 3314805.0) / 150000.0)
    ulx, uly = h * 150000.0 - 2565585.0, -(v * 150000.0 - 3314805.0)
    return [(int(ulx + (k % CHIPS_PER_EDGE) * CHIP_M),
             int(uly - (k // CHIPS_PER_EDGE) * CHIP_M)) for k in range(chips)]


def _lists(values):
    """(pixels, obs) int array -> list<int32> column."""
    p, k = values.shape
    offsets = pa.array(np.arange(0, p * k + 1, k, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(values.reshape(-1).astype(np.int32)))


def _flists(values):
    p, k = values.shape
    offsets = pa.array(np.arange(0, p * k + 1, k, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(values.reshape(-1).astype(np.float32)))


def ard(out, seed, chips, years, files=4):
    """ARD + aux for whole chips of variant seed % VARIANTS, written as
    `files` part files each."""
    rng = np.random.default_rng([seed % VARIANTS, 4])
    first = _ordinal(2000, 1, 1)
    dates = np.arange(first, first + int(years * 365.2425), 16)[::-1]  # descending
    k = len(dates)
    px_off = np.arange(PIXELS_PER_EDGE * PIXELS_PER_EDGE)
    rows = []
    for cx, cy in chip_ids(chips):
        n = len(px_off)
        px = cx + (px_off % PIXELS_PER_EDGE) * PIXEL_M
        py = cy - (px_off // PIXELS_PER_EDGE) * PIXEL_M
        cls = rng.integers(1, 9, n)  # land-cover class, label source
        t = dates[None, :].astype(np.float64)
        season = np.cos(2 * np.pi * t / 365.2425 + rng.uniform(0, 0.5, (n, 1)))
        # 30% of pixels carry one step change at a random date.
        broke = rng.random(n) < 0.3
        brk = dates[rng.integers(k // 4, 3 * k // 4, n)]
        step = np.where(broke[:, None] & (t >= brk[:, None]), 1.0, 0.0)
        bands = []
        for b in range(7):
            base = 600.0 + 150 * b + 90.0 * cls[:, None]
            amp = 250.0 + 20 * b
            val = base + amp * season + step * (1200.0 - 80 * b) \
                + rng.normal(0, 35.0, (n, k))
            bands.append(np.round(val))
        # ~20% of observations are cloud/fill: QA-masked, bright or fill values.
        masked = rng.random((n, k)) < 0.2
        qa = np.where(masked, MASKED_QA[rng.integers(0, 2, (n, k))],
                      CLEAR_QA[rng.integers(0, 2, (n, k))])
        fill = masked & (rng.random((n, k)) < 0.5)
        bands = [np.where(fill, -9999, np.where(masked, v + 3000, v)) for v in bands]
        rows.append((cx, cy, px, py, cls, bands, qa))
    ard_cols = {c: [] for c in ("cx", "cy", "px", "py", "dates", "blues", "greens",
                                "reds", "nirs", "swir1s", "swir2s", "thermals", "qas")}
    aux_cols = {c: [] for c in ("cx", "cy", "px", "py", "dates", "dem", "trends",
                                "aspect", "posidex", "slope", "mpw")}
    for cx, cy, px, py, cls, bands, qa in rows:
        n = len(px)
        for c, v in (("cx", np.full(n, cx)), ("cy", np.full(n, cy)), ("px", px), ("py", py)):
            ard_cols[c].append(pa.array(v.astype(np.int32)))
            aux_cols[c].append(pa.array(v.astype(np.int32)))
        ard_cols["dates"].append(_lists(np.tile(dates, (n, 1))))
        for c, v in zip(("blues", "greens", "reds", "nirs", "swir1s", "swir2s", "thermals"), bands):
            ard_cols[c].append(_lists(v))
        ard_cols["qas"].append(_lists(qa))
        one = np.full((n, 1), dates[-1])
        aux_cols["dates"].append(_lists(one))
        aux_cols["dem"].append(_flists(rng.normal(1500, 200, (n, 1))))
        aux_cols["trends"].append(_lists(cls[:, None]))
        aux_cols["aspect"].append(_lists(rng.integers(0, 360, (n, 1))))
        aux_cols["posidex"].append(_flists(rng.random((n, 1))))
        aux_cols["slope"].append(_flists(rng.uniform(0, 30, (n, 1))))
        aux_cols["mpw"].append(_lists(rng.integers(0, 2, (n, 1))))
    for name, cols in (("ard", ard_cols), ("aux", aux_cols)):
        table = pa.table({c: pa.concat_arrays(v) for c, v in cols.items()})
        os.makedirs(f"{out}/{name}", exist_ok=True)
        step = -(-table.num_rows // files)
        for f in range(files):
            pq.write_table(table.slice(f * step, step), f"{out}/{name}/part-{f:02d}.parquet")
    return {"chips": chips, "pixels": chips * len(px_off), "obs": k}


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "corpus":
        corpus(out, seed)
    else:
        print(ard(out, seed, int(sys.argv[4]), float(sys.argv[5])))
