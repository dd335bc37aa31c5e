"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (workload, seed, size): the generator
draws from ``numpy.random.default_rng([seed, stream])`` and writes the
tables as parquet with pyarrow, so the same seed gives byte-identical
files and the engine only ever sees the generated inputs.

What the seed changes, per workload (the properties the layers depend on):

  hydro_network  forest shape (number of outlets, chain vs junction
                 nodes), node positions, which edges are noise, reversed
                 or duplicated, which edges the corrections touch, and
                 where the partial water surfaces lie.
  pages_batch    for the geoparsed pages: hotspot placement (cell skew),
                 which pages carry a line, polygon placement and size, and
                 which polygons are concave; for the text snapshots: token
                 streams, exact- and near-duplicate families, contaminated
                 docs, and the adds / edits / deletes that turn the old
                 snapshot into the new one.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bdtopo2refhydro_spark.geom.wkb import linestring_wkb, polygon_wkb

EXTENT = 100_000.0  # planar meters, like sources/synth.py

_NATURES = ["Ecoulement naturel"] * 6 + [
    "Canal", "Conduit forcé", "Conduit buse", "Ecoulement canalisé"]
_WIDTHS = ["Entre 0 et 5 m", "Entre 5 et 15 m", "Entre 15 et 50 m"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def point_wkbs(x: np.ndarray, y: np.ndarray) -> list[bytes]:
    """Point WKB for every (x, y), built in one numpy pass."""
    rec = np.empty(len(x), dtype=[("bo", "u1"), ("t", "<u4"),
                                  ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    raw = rec.tobytes()
    return [raw[i * 21:(i + 1) * 21] for i in range(len(x))]


def _ring(cx: float, cy: float, angles: np.ndarray, radii: np.ndarray):
    pts = np.column_stack([cx + radii * np.cos(angles),
                           cy + radii * np.sin(angles)])
    return np.vstack([pts, pts[:1]])


def _rect(x0, y0, x1, y1) -> bytes:
    return polygon_wkb(np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                                 [x0, y0]], dtype=np.float64))


def _convex_polygon(rng, cx, cy, r) -> bytes:
    """Counter-clockwise convex polygon: sorted angles on one circle."""
    k = int(rng.integers(4, 9))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
    return polygon_wkb(_ring(cx, cy, ang, np.full(k, r)))


def _concave_polygon(rng, cx, cy, r) -> bytes:
    """Counter-clockwise star: alternating outer / inner radii."""
    k = int(rng.integers(5, 9))
    ang = np.linspace(0.0, 2 * np.pi, 2 * k, endpoint=False)
    ang = ang + rng.uniform(0.0, np.pi / k)
    radii = np.where(np.arange(2 * k) % 2 == 0, r, r * rng.uniform(0.3, 0.6))
    return polygon_wkb(_ring(cx, cy, ang, radii))


# ------------------------------------------------------------ hydro_network

def hydro_tables(seed: int, n_edges: int) -> dict[str, pd.DataFrame]:
    """River forest shaped like sources/synth.py: ~70% tree edges flowing
    child → parent towards outlets in the y < 1500 band, ~30% disconnected
    noise, ~4% of tree edges stored reversed, ~3% duplicated under a new
    url, plus the corrections, outlet band and partial water surfaces."""
    rng = _rng(seed, 1)
    n_tree = int(n_edges * 0.7)
    n_roots = 3
    p_single = 0.4  # share of chain (one-child) nodes
    # breadth-first growth: every node opens one (chain) or two
    # (junction) child slots, filled in queue order
    parent = np.full(n_tree, -1, dtype=np.int64)
    slots: list[int] = []
    for i in range(n_tree):
        if i >= n_roots:
            parent[i] = slots[i - n_roots]
        slots.extend([i] if rng.random() < p_single else [i, i])
    pos = np.zeros((n_tree, 2))
    pos[:n_roots, 0] = (np.arange(n_roots) + 0.5) * EXTENT / n_roots \
        + rng.uniform(-5000, 5000, n_roots)
    pos[:n_roots, 1] = 1000.0
    dx = rng.uniform(-2000.0, 2000.0, n_tree)
    dy = rng.uniform(500.0, 3000.0, n_tree)
    for i in range(n_roots, n_tree):
        p = pos[parent[i]]
        pos[i, 0] = min(max(p[0] + dx[i], 500.0), EXTENT - 500.0)
        pos[i, 1] = p[1] + dy[i]

    urls, geoms, is_tree = [], [], []
    reversed_flag = np.zeros(n_edges, dtype=bool)
    for i in range(n_edges):
        urls.append(f"https://hydro.example/e/{seed}/{i}")
        if i < n_roots:  # outlet edge: from the root into the band
            coords = np.array([pos[i], [pos[i, 0], 500.0]])
        elif i < n_tree:
            a, b = pos[i], pos[parent[i]]
            k = int(rng.integers(0, 7))
            t = np.linspace(0.0, 1.0, k + 2)[:, None]
            coords = a + t * (b - a)
            coords[1:-1] += rng.uniform(-100.0, 100.0, (k, 2))
            reversed_flag[i] = rng.random() < 1 / 23
        else:
            x0, y0 = rng.uniform(0.0, EXTENT), rng.uniform(5_000.0, EXTENT)
            ang, ln = rng.uniform(0.0, 2 * np.pi), rng.uniform(200.0, 3200.0)
            coords = np.array([[x0, y0], [x0 + ln * np.cos(ang),
                                          y0 + ln * np.sin(ang)]])
        geoms.append(linestring_wkb(coords[::-1] if reversed_flag[i]
                                    else coords))
        is_tree.append(i < n_tree)
    h = rng.integers(0, 1 << 30, n_edges)
    edges = pd.DataFrame({
        "url": urls,
        "geom_wkb": geoms,
        "nature": [_NATURES[v % 10] if i >= n_roots else _NATURES[0]
                   for i, v in enumerate(h)],
        "fictif": h % 13 == 0,
        "persistance": np.where(h % 3 > 0, "Permanent", "Intermittent"),
        "classe_de_largeur": [_WIDTHS[v % 3] for v in h],
        "is_tree": is_tree,
        "flow_reversed": reversed_flag,
    })
    # an exact share, so the input row count is the same for every seed
    dup = edges.iloc[np.sort(rng.permutation(n_edges)[:n_edges // 29])].copy()
    dup["url"] = [f"https://hydro.example/dup/{seed}/{j}"
                  for j in range(len(dup))]
    edges = pd.concat([edges, dup], ignore_index=True)

    corr = []
    for j in range(max(n_edges // 50, 2)):
        x0, y0 = rng.uniform(1000.0, EXTENT - 1000.0), rng.uniform(60e3, 90e3)
        corr.append(("https://hydro.example/new/%d/%d" % (seed, j),
                     "connection",
                     linestring_wkb([[x0, y0], [x0 + 500.0, y0 + 200.0]])))
    pick = rng.random(n_edges)
    for i in range(n_roots, n_edges):
        if reversed_flag[i]:
            corr.append((urls[i], "direction", None))
        if pick[i] < 0.01:
            x0 = rng.uniform(0.0, 1000.0)
            corr.append((urls[i], "geom", linestring_wkb(
                [[x0, 50_000.0], [x0 + 300.0, 50_300.0]])))
        elif pick[i] < 0.02:
            corr.append((urls[i], "suppr_canal_multichenal", None))
    corrections = pd.DataFrame(corr, columns=["url", "action", "new_geom_wkb"])

    outlets = pd.DataFrame({
        "outlet_id": [0, 1, 2],
        "kind": ["limite_terre_mer", "plan_d_eau_line", "frontiere"],
        "geom_wkb": [_rect(0, 0, EXTENT, 1500.0),
                     _rect(10_000, 0, 20_000, 1200.0),
                     _rect(80_000, 0, 95_000, 900.0)],
    })
    # partial water surfaces: a lowland band of seeded height with convex
    # and concave lakes inside it. Everything the zonal filter keeps is
    # then already connected to an outlet, so the connectivity repair runs
    # one round for every seed instead of a seed-dependent number
    band = rng.uniform(8_000.0, 15_000.0)
    surf = [_rect(0, 0, EXTENT, band)]
    for j in range(12):
        r = rng.uniform(1_000.0, 3_000.0)
        cx, cy = rng.uniform(r, EXTENT - r), rng.uniform(r, band - r)
        surf.append(_concave_polygon(rng, cx, cy, r) if j % 3 == 0
                    else _convex_polygon(rng, cx, cy, r))
    surfaces = pd.DataFrame({
        "surface_id": np.arange(len(surf), dtype=np.int64),
        "nature": ["Ecoulement_naturel"] * len(surf),
        "geom_wkb": surf,
    })
    return {"edges": edges, "corrections": corrections,
            "outlets": outlets, "surfaces": surfaces}


# --------------------------------------------------------- geoparsed pages

def geo_tables(seed: int, n_pages: int) -> dict[str, pd.DataFrame]:
    """Geoparsed pages: integer-valued points, 60% of them in eight seeded
    Gaussian hotspots (dense, skewed cells), every fifth also carrying a
    2-5 vertex line, 1% marked as kNN queries; one polygon per five pages,
    a fifth of them placed on the hotspots and every fourth concave. The
    shares are exact so that the work per run varies little by seed."""
    rng = _rng(seed, 2)
    n_polys = n_pages // 5
    n_hot = 8
    centers = rng.uniform(10_000.0, EXTENT - 10_000.0, (n_hot, 2))
    sigma = np.full(n_hot, 2_500.0)
    in_hot = rng.permutation(n_pages) < int(0.6 * n_pages)
    which = rng.integers(0, n_hot, n_pages)
    xy = rng.uniform(0.0, EXTENT, (n_pages, 2))
    xy[in_hot] = centers[which[in_hot]] \
        + rng.normal(0.0, 1.0, (in_hot.sum(), 2)) * sigma[which[in_hot], None]
    xy = np.clip(np.floor(xy), 0.0, EXTENT - 1.0)
    lines: list = [None] * n_pages
    for i in range(0, n_pages, 5):
        k = int(rng.integers(1, 5))
        steps = rng.uniform(-600.0, 600.0, (k, 2))
        lines[i] = linestring_wkb(np.vstack([xy[i], xy[i] + np.cumsum(
            steps, axis=0)]))
    pages = pd.DataFrame({
        "doc_id": np.arange(n_pages, dtype=np.int64),
        "x": xy[:, 0], "y": xy[:, 1],
        "geom_wkb": point_wkbs(xy[:, 0], xy[:, 1]),
        "line_wkb": lines,
        "knn_query": rng.permutation(n_pages) < max(n_pages // 100, 1),
    })
    near_hot = rng.permutation(n_polys) < n_polys // 5
    pc = rng.uniform(2_000.0, EXTENT - 2_000.0, (n_polys, 2))
    hw = rng.integers(0, n_hot, n_polys)
    pc[near_hot] = centers[hw[near_hot]] \
        + rng.normal(0.0, 1.0, (near_hot.sum(), 2)) * sigma[hw[near_hot], None]
    radius = rng.uniform(150.0, 700.0, n_polys)
    concave = np.arange(n_polys) % 4 == 0
    polys = pd.DataFrame({
        "pid": np.arange(n_polys, dtype=np.int64),
        "concave": concave,
        "geom_wkb": [(_concave_polygon if concave[j] else _convex_polygon)(
            rng, pc[j, 0], pc[j, 1], radius[j]) for j in range(n_polys)],
    })
    return {"pages": pages, "polygons": polys}


# ----------------------------------------------------------- text snapshots

def _vocab(n: int, prefix: str) -> np.ndarray:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = []
    for i in range(n):
        w, v = "", i + 27
        while v:
            w, v = letters[v % 26] + w, v // 26
        words.append(prefix + w)
    return np.array(words)


def corpus_tables(seed: int, n_docs: int,
                  n_bench: int = 40) -> dict[str, pd.DataFrame]:
    """Old web-text snapshot with planted exact and near-duplicate
    families, short and repetitive low-quality pages and docs carrying a
    slice of a held-out benchmark doc; the new snapshot deletes, edits and
    adds ~15% of it; the benchmark docs use their own vocabulary so only
    the planted slices contaminate."""
    rng = _rng(seed, 3)
    vocab = _vocab(4000, "")
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()

    def fresh(n_tok: int) -> list[str]:
        return list(vocab[rng.choice(len(vocab), n_tok, p=zipf)])

    def near(tokens: list[str]) -> list[str]:
        out = list(tokens)
        for _ in range(int(rng.integers(1, 3))):
            out[int(rng.integers(0, len(out)))] = str(vocab[rng.integers(
                0, len(vocab))])
        return out

    bench_vocab = _vocab(600, "q")
    bench_toks = [list(rng.choice(bench_vocab, 30)) for _ in range(n_bench)]
    texts: list[list[str]] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:    # exact duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))]
        elif i > 10 and r < 0.10:  # near duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))]
            toks = near(src) if len(src) >= 12 else fresh(30)
        elif r < 0.13:             # short page, fails the length gate
            toks = fresh(int(rng.integers(3, 9)))
        elif r < 0.16:             # repetitive page, fails the Gopher gate
            toks = [str(vocab[rng.integers(0, 50)])] * int(rng.integers(20, 40))
        else:
            toks = fresh(int(rng.integers(15, 70)))
        if rng.random() < 0.02:    # planted benchmark leak
            b = bench_toks[int(rng.integers(0, n_bench))]
            s = int(rng.integers(0, len(b) - 6))
            at = int(rng.integers(0, len(toks) + 1))
            toks = toks[:at] + b[s:s + 6] + toks[at:]
        texts.append(toks)
    n_src = 60
    src = rng.integers(0, n_src, n_docs)
    langs = np.array(["fr", "en", "de", "es"])[rng.integers(0, 4, n_docs)]
    doc_ids = np.arange(n_docs, dtype=np.int64) * 3 + int(rng.integers(0, 3))
    old = pd.DataFrame({
        "doc_id": doc_ids,
        "text": [" ".join(t) for t in texts],
        "lang": langs,
        "source": [f"site{s}.example" for s in src],
    })

    fate = rng.random(n_docs)
    new_text = list(old["text"])
    for i in np.flatnonzero((fate >= 0.05) & (fate < 0.10)):
        new_text[i] = " ".join(near(texts[i]) if len(texts[i]) >= 4
                               else texts[i] + ["edited"])
    keep = fate >= 0.05
    new = old.assign(text=new_text)[keep]
    n_add = int(n_docs * 0.05)
    add_text = []
    for j in range(n_add):
        base = texts[int(rng.integers(0, n_docs))]
        kind = j % 4
        if kind == 0:
            add_text.append(" ".join(base))
        elif kind == 1 and len(base) >= 12:
            add_text.append(" ".join(near(base)))
        elif kind == 2:
            add_text.append(" ".join(fresh(int(rng.integers(1, 4)))))
        else:
            add_text.append(" ".join(fresh(int(rng.integers(15, 60)))))
    added = pd.DataFrame({
        "doc_id": doc_ids.max() + 1 + np.arange(n_add, dtype=np.int64),
        "text": add_text,
        "lang": np.array(["fr", "en", "de", "es"])[rng.integers(0, 4, n_add)],
        "source": [f"site{s}.example" for s in rng.integers(0, n_src, n_add)],
    })
    new = pd.concat([new, added], ignore_index=True)
    for df in (old, new):
        df["n_chars"] = df["text"].str.len().astype(np.int64)
    bench = pd.DataFrame({
        "doc_id": 10_000_000 + np.arange(n_bench, dtype=np.int64),
        "text": [" ".join(t) for t in bench_toks],
    })
    return {"old": old, "new": new, "bench": bench}


def pages_tables(seed: int, n_pages: int) -> dict[str, pd.DataFrame]:
    """One batch of web pages: geoparsed pages for the spatial calls and
    a text snapshot pair of n_pages // 4 docs for the text calls."""
    return {**geo_tables(seed, n_pages), **corpus_tables(seed, n_pages // 4)}


# -------------------------------------------------------------------- write

GENERATORS = {
    "hydro_network": hydro_tables,
    "pages_batch": pages_tables,
}


def write_inputs(workload: str, seed: int, size: int,
                 out_dir: str) -> tuple[dict[str, pd.DataFrame], dict]:
    """Generate one workload's tables and write each as one parquet file.
    Returns (tables, {table: {"path", "rows", "bytes"}})."""
    os.makedirs(out_dir, exist_ok=True)
    tables = GENERATORS[workload](seed, size)
    info = {}
    for name, pdf in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        info[name] = {"path": path, "rows": len(pdf),
                      "bytes": os.path.getsize(path)}
    return tables, info
