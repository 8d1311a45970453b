"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed gives
byte-identical arrays, a different seed gives different ones.  Sizes are
fixed per workload and only shapes and values vary with the seed, so run
time does not drift with it.  Generated tables are cached as parquet under
``.bench_cache/<workload>-<seed>/`` in the checkout (git-ignored), so a
repeated seed skips generation.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")

# geo_dataset: an irregular AOI the size of Luxembourg (about 2,600 km2),
# centred so it straddles the UTM 31/32 boundary at 6 deg E
AOI_CENTER = (6.13, 49.81)
AOI_RADII = (0.36, 0.30)  # lon, lat degrees
AOI_VERTICES = 96
# harmonic amplitudes are fixed and only the phases are random: the area of
# r = R(1 + sum a_k cos(k t + p_k)) does not depend on the phases, so every
# seed gives about the same tile count
AOI_HARMONICS = {2: 0.10, 3: 0.07, 5: 0.05, 7: 0.03}

# corpus_dedup
N_DOCS = 600
VOCAB = 4000
ZIPF_S = 1.1
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDIT = 0.06  # share of tokens replaced in a near duplicate
EMB_DIM = 32

# geo_dataset serve step: observation points and the request script
N_POINTS = 100_000
HOT_SHARE = 0.3
N_HOT = 8
POINT_BOX = (5.7, 49.4, 6.6, 50.2)
REQUEST_KINDS = ("read_aoi", "knn", "pip")
KNN_QUERIES = 3
PIP_POLYGONS = 8
BBOX_SIDE = (0.01, 0.12)  # degrees, log-uniform


def _rng(workload: str, seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (workload, seed, stream)."""
    tag = int.from_bytes(f"{workload}/{stream}".encode()[:16].ljust(16, b"\0"), "little")
    return np.random.default_rng([int(seed), tag % (1 << 63)])


# --------------------------------------------------------------- geo ------


def aoi_ring(seed: int) -> np.ndarray:
    """Closed counter-clockwise lon/lat ring of the seeded AOI."""
    rng = _rng("geo_dataset", seed, "aoi")
    t = np.linspace(0.0, 2 * np.pi, AOI_VERTICES, endpoint=False)
    r = np.ones_like(t)
    for k, amp in AOI_HARMONICS.items():
        r += amp * np.cos(k * t + rng.uniform(0, 2 * np.pi))
    lon = AOI_CENTER[0] + AOI_RADII[0] * r * np.cos(t)
    lat = AOI_CENTER[1] + AOI_RADII[1] * r * np.sin(t)
    ring = np.stack([lon, lat], axis=1)
    return np.vstack([ring, ring[:1]])


# ------------------------------------------------------------- corpus -----


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def corpus(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs(doc_id, text), embeddings(vec_id, embedding)).

    Tokens follow a Zipf law over a seeded vocabulary.  A fixed share of
    documents are exact copies of an earlier document and another share are
    near copies (a few tokens replaced) of others; their embeddings sit close
    to the source's, so every dedup stage and the cosine join have true
    positives.
    """
    rng = _rng("corpus_dedup", seed, "corpus")
    vocab = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_base = N_DOCS - n_exact - n_near
    lens = np.clip(rng.lognormal(np.log(90), 0.45, n_base), 20, 400).astype(int)
    base_tok = [rng.choice(VOCAB, size=n, p=p) for n in lens]
    base_emb = rng.standard_normal((n_base, EMB_DIM)).astype(np.float32)

    toks = list(base_tok)
    embs = [e for e in base_emb]
    # every source is copied at most once, so each duplicate cluster is a
    # pair and the work (pairs, component rounds) does not vary with the seed
    src = rng.choice(n_base, n_exact + n_near, replace=False)
    src_exact, src_near = src[:n_exact], src[n_exact:]
    for s in src_exact:
        toks.append(base_tok[s].copy())
        embs.append(base_emb[s].copy())
    for s in src_near:
        t = base_tok[s].copy()
        k = max(1, int(len(t) * NEAR_DUP_EDIT))
        pos = rng.choice(len(t), size=k, replace=False)
        t[pos] = rng.choice(VOCAB, size=k, p=p)
        toks.append(t)
        embs.append(base_emb[s] + 0.15 * rng.standard_normal(EMB_DIM).astype(np.float32))
    order = rng.permutation(N_DOCS)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": [" ".join(vocab[toks[i]]) for i in order],
        }
    )
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(N_DOCS, dtype=np.int64),
            "embedding": [embs[i].astype(np.float32) for i in order],
        }
    )
    return docs, emb


def points(seed: int) -> pd.DataFrame:
    """(id, lon, lat, v): uniform background plus hot Gaussian clusters."""
    rng = _rng("geo_dataset", seed, "points")
    x0, y0, x1, y1 = POINT_BOX
    n_hot = int(N_POINTS * HOT_SHARE)
    n_uni = N_POINTS - n_hot
    lon = rng.uniform(x0, x1, n_uni)
    lat = rng.uniform(y0, y1, n_uni)
    centers = np.stack(
        [rng.uniform(x0 + 0.1, x1 - 0.1, N_HOT), rng.uniform(y0 + 0.1, y1 - 0.1, N_HOT)],
        axis=1,
    )
    which = rng.integers(0, N_HOT, n_hot)
    hlon = centers[which, 0] + rng.normal(0, 0.01, n_hot)
    hlat = centers[which, 1] + rng.normal(0, 0.01, n_hot)
    return pd.DataFrame(
        {
            "id": np.arange(N_POINTS, dtype=np.int64),
            "lon": np.concatenate([lon, hlon]),
            "lat": np.concatenate([lat, hlat]),
            "v": rng.random(N_POINTS),
        }
    )


def _polygon(rng: np.random.Generator, cx: float, cy: float, r: float) -> list:
    """Star-shaped ring (5-9 vertices) of radius about ``r`` around (cx, cy)."""
    n = int(rng.integers(5, 10))
    t = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.0, n)
    ring = np.stack([cx + rad * np.cos(t), cy + rad * np.sin(t)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    return ring.round(7).tolist()


def requests(seed: int, pts: pd.DataFrame) -> list[dict]:
    """The seeded request script, one request of each kind: a bbox read
    with a log-uniform side, a kNN probe (k=10) of a few query points, and a
    point-in-polygon join of star polygons over an AOI read.  Requests
    centre on existing points, so hot clusters are often hit."""
    rng = _rng("geo_dataset", seed, "requests")
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()

    def centre():
        j = int(rng.integers(0, len(lon)))
        return float(lon[j]), float(lat[j])

    out = []
    for i, kind in enumerate(REQUEST_KINDS):
        req = {"id": f"r{i}", "kind": kind}
        side = float(np.exp(rng.uniform(*np.log(BBOX_SIDE))))
        cx, cy = centre()
        if kind == "knn":
            req["queries"] = [[round(x, 7), round(y, 7)] for x, y in (centre() for _ in range(KNN_QUERIES))]
        else:
            req["bbox"] = [round(cx - side / 2, 7), round(cy - side / 2, 7),
                           round(cx + side / 2, 7), round(cy + side / 2, 7)]
        if kind == "pip":
            req["polygons"] = [
                _polygon(rng, cx + rng.uniform(-side / 3, side / 3),
                         cy + rng.uniform(-side / 3, side / 3), side / 4)
                for _ in range(PIP_POLYGONS)
            ]
        out.append(req)
    return out


# -------------------------------------------------------------- cache -----


def cached(workload: str, seed: int) -> dict:
    """Generate (or load) the inputs of ``workload`` for ``seed``.

    Returns a dict of in-memory inputs plus ``dir``, the cache directory
    holding any parquet tables the Spark side reads."""
    d = os.path.join(CACHE, f"{workload}-{int(seed)}")
    done = os.path.join(d, "_done")
    if workload == "corpus_dedup":
        if not os.path.exists(done):
            docs, emb = corpus(seed)
            os.makedirs(d, exist_ok=True)
            docs.to_parquet(os.path.join(d, "docs.parquet"), index=False)
            emb.to_parquet(os.path.join(d, "emb.parquet"), index=False)
            open(done, "w").close()
        return {
            "dir": d,
            "docs": pd.read_parquet(os.path.join(d, "docs.parquet")),
            "emb": pd.read_parquet(os.path.join(d, "emb.parquet")),
        }
    if workload == "geo_dataset":
        if not os.path.exists(done):
            pts = points(seed)
            os.makedirs(d, exist_ok=True)
            pts.to_parquet(os.path.join(d, "points.parquet"), index=False)
            with open(os.path.join(d, "requests.json"), "w") as f:
                json.dump(requests(seed, pts), f)
            open(done, "w").close()
        with open(os.path.join(d, "requests.json")) as f:
            reqs = json.load(f)
        return {
            "dir": d,
            "aoi": aoi_ring(seed),
            "foreign_seed": int(seed) % (1 << 31),
            "points": pd.read_parquet(os.path.join(d, "points.parquet")),
            "requests": reqs,
        }
    raise ValueError(f"unknown workload {workload!r}")
