"""Expected outputs computed once per seed by a path independent of the
engine: numpy for the spatial calls and the hydro troncon, DuckDB SQL for
the text calls. Each function returns {output: pandas DataFrame}, or a
partial check where only part of an output is recomputed (a sample of the
kNN queries; the troncon's URL set).

For hydro_network the oracle gives the troncon's row count and URL set.
The other columns of the troncon, the segments and the width network are
defined by the first run of each process, and every later run, the
traced run included, must reproduce them exactly.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

from bdtopo2refhydro_spark.functions.cells import CELL_SHIFT
from bdtopo2refhydro_spark.geom.wkb import linestring_wkb, parse_wkb
from bdtopo2refhydro_spark.operators import text as TX

_EPS = 1e-12


# -------------------------------------------------------------------- hydro

def _corrected_edges(edges: pd.DataFrame, corr: pd.DataFrame) -> dict:
    """{url: linestring WKB} after the five correction passes in their
    order: insert-if-absent (+ reverse) for connection_and_direction,
    insert-if-absent for connection, reverse for direction, overwrite for
    geom, delete for suppr_canal_multichenal. Correction rows that carry
    a geometry are deduplicated on it first (lowest url, action kept)."""
    with_geom = corr[corr["new_geom_wkb"].notna()] \
        .sort_values(["url", "action"]).drop_duplicates("new_geom_wkb")
    corr = pd.concat([with_geom, corr[corr["new_geom_wkb"].isna()]
                      .drop_duplicates()])
    by = {a: corr[corr["action"] == a] for a in
          ("connection_and_direction", "connection", "direction", "geom",
           "suppr_canal_multichenal")}
    out = dict(zip(edges["url"], (bytes(b) for b in edges["geom_wkb"])))

    def reverse(b: bytes) -> bytes:
        return linestring_wkb(parse_wkb(b)[1][::-1])

    for u, g in zip(by["connection_and_direction"]["url"],
                    by["connection_and_direction"]["new_geom_wkb"]):
        out.setdefault(u, bytes(g))
    for u in set(by["connection_and_direction"]["url"]):
        out[u] = reverse(out[u])
    for u, g in zip(by["connection"]["url"], by["connection"]["new_geom_wkb"]):
        out.setdefault(u, bytes(g))
    for u in set(by["direction"]["url"]) & out.keys():
        out[u] = reverse(out[u])
    for u, g in zip(by["geom"]["url"], by["geom"]["new_geom_wkb"]):
        if u in out:
            out[u] = bytes(g)
    for u in by["suppr_canal_multichenal"]["url"]:
        out.pop(u, None)
    return out


def _half_up(v: float) -> int:
    """Spark's round(): half away from zero."""
    a = abs(v)
    q = math.floor(a)
    q += (a - q) >= 0.5
    return int(math.copysign(q, v))


def _hits_box(c: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> bool:
    """A polyline touches an axis-aligned box (Liang-Barsky per segment)."""
    for p, q in zip(c[:-1], c[1:]):
        t0, t1, d = 0.0, 1.0, q - p
        for k in range(2):
            if d[k] == 0.0:
                if not lo[k] <= p[k] <= hi[k]:
                    break
                continue
            a, b = (lo[k] - p[k]) / d[k], (hi[k] - p[k]) / d[k]
            t0, t1 = max(t0, min(a, b)), min(t1, max(a, b))
        else:
            if t0 <= t1:
                return True
    return False


def hydro_troncon_urls(tables: dict[str, pd.DataFrame],
                       tolerance: float = 1.0) -> list[str]:
    """URLs of the reference network (the troncon): correct the edges,
    drop repeated geometries (lowest url kept), snap endpoints to nodes,
    seed from the edges touching an outlet polygon, keep every edge
    touching a node connected to a seed (undirected), then keep per
    upstream node the edge on the shortest route to an outlet node (the
    seed edges' downstream nodes), ties to the smallest url."""
    geoms = _corrected_edges(tables["edges"], tables["corrections"])
    first = {}
    for u in sorted(geoms):
        first.setdefault(geoms[u], u)
    edges = {}
    for g, u in first.items():
        c = parse_wkb(g)[1]
        a, b = (tuple(_half_up(v / tolerance) for v in p) for p in (c[0], c[-1]))
        edges[u] = (a, b, float(np.sqrt(((c[1:] - c[:-1]) ** 2).sum(1)).sum()), c)
    boxes = []
    for w in tables["outlets"]["geom_wkb"]:
        ring = parse_wkb(bytes(w))[1][0]
        assert len(np.unique(ring[:, 0])) == 2 and len(np.unique(ring[:, 1])) == 2
        boxes.append((ring.min(axis=0), ring.max(axis=0)))
    seeds = [u for u, (_, _, _, c) in edges.items()
             if any(_hits_box(c, lo, hi) for lo, hi in boxes)]

    nbr: dict = {}
    for a, b, _, _ in edges.values():
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    visited = {n for u in seeds for n in edges[u][:2]}
    todo = list(visited)
    while todo:
        for m in nbr[todo.pop()] - visited:
            visited.add(m)
            todo.append(m)
    troncon = {u: e for u, e in edges.items()
               if e[0] in visited or e[1] in visited}

    # shortest along-flow distance to an outlet node (Dijkstra against flow)
    into: dict = {}
    for u, (a, b, ln, _) in troncon.items():
        into.setdefault(b, []).append((a, ln))
    dist = {}
    heap = [(0.0, n) for n in {edges[u][1] for u in seeds}]
    while heap:
        d, n = heapq.heappop(heap)
        if n in dist:
            continue
        dist[n] = d
        for a, ln in into.get(n, ()):
            if a not in dist:
                heapq.heappush(heap, (d + ln, a))
    best: dict = {}
    for u, (a, b, ln, _) in troncon.items():
        if b in dist:
            best[a] = min(best.get(a, (math.inf, "")), (dist[b] + ln, u))
    return sorted(u for _, u in best.values())


# ----------------------------------------------------------------- geometry

def _rings(polys: pd.Series) -> list[np.ndarray]:
    """Exterior ring (closed, (n, 2)) of every polygon WKB."""
    return [parse_wkb(bytes(b))[1][0] for b in polys]


def _inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting of many points against one ring."""
    inside = np.zeros(px.shape, dtype=bool)
    a, b = ring[:-1], ring[1:]
    for (ax, ay), (bx, by) in zip(a, b):
        cross = (ay > py) != (by > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
        inside ^= cross & (px < xint)
    return inside


def _inside_length(P: np.ndarray, Q: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Length of each segment P[i]→Q[i] inside one polygon ring: split
    at every edge crossing, classify sub-intervals by their midpoint."""
    A, B = ring[:-1], ring[1:]
    r = Q - P                                   # (S, 2)
    s = B - A                                   # (E, 2)
    denom = r[:, None, 0] * s[None, :, 1] - r[:, None, 1] * s[None, :, 0]
    ap = A[None, :, :] - P[:, None, :]          # (S, E, 2)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (ap[..., 0] * s[None, :, 1] - ap[..., 1] * s[None, :, 0]) / denom
        u = (ap[..., 0] * r[:, None, 1] - ap[..., 1] * r[:, None, 0]) / denom
    ok = (np.abs(denom) > _EPS) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    ts = np.where(ok, t, 1.0)
    ts = np.sort(np.concatenate([np.zeros((len(P), 1)), ts,
                                 np.ones((len(P), 1))], axis=1), axis=1)
    mid = (ts[:, :-1] + ts[:, 1:]) / 2.0        # (S, E+1)
    mx = P[:, None, 0] + mid * r[:, None, 0]
    my = P[:, None, 1] + mid * r[:, None, 1]
    frac = np.where(_inside(mx, my, ring), ts[:, 1:] - ts[:, :-1], 0.0)
    return frac.sum(axis=1) * np.hypot(r[:, 0], r[:, 1])


def knn_sample_ids(pages: pd.DataFrame, n_sample: int, seed: int) -> list:
    """A seeded sample of the kNN queries, checked by brute force."""
    q = pages[pages["knn_query"]]
    rng = np.random.default_rng([seed, 99])
    pick = rng.choice(len(q), min(n_sample, len(q)), replace=False)
    return q["doc_id"].iloc[np.sort(pick)].tolist()


def geo_expected(tables: dict[str, pd.DataFrame], tile: float,
                 k: int, sample_ids: list) -> dict:
    pages, polys = tables["pages"], tables["polygons"]
    x, y = pages["x"].to_numpy(), pages["y"].to_numpy()
    ids = pages["doc_id"].to_numpy()
    rings = _rings(polys["geom_wkb"])

    # point-in-polygon: distinct pages inside >= 1 polygon
    order = np.argsort(x, kind="stable")
    xs = x[order]
    hit = np.zeros(len(x), dtype=bool)
    for ring in rings:
        lo, hi = np.searchsorted(xs, [ring[:, 0].min(), ring[:, 0].max()])
        cand = order[lo:hi]
        cand = cand[(y[cand] >= ring[:, 1].min()) & (y[cand] <= ring[:, 1].max())]
        hit[cand[_inside(x[cand], y[cand], ring)]] = True
    pip = pd.DataFrame({"doc_id": ids[hit]})

    ix = np.floor(np.maximum(x, 0.0) / tile).astype(np.int64)
    iy = np.floor(np.maximum(y, 0.0) / tile).astype(np.int64)
    tiles = pd.DataFrame({"doc_id": ids, "cell": (ix << CELL_SHIFT) + iy})
    cx, cy = np.floor(x / tile).astype(np.int64), np.floor(y / tile).astype(np.int64)
    raster = pd.DataFrame({"cy": cy, "cx": cx}).value_counts().rename("v") \
        .reset_index()

    # zonal: % of each line's length inside the polygons (summed over
    # polygons, capped at 100)
    lines = pages[pages["line_wkb"].notna()]
    coords = [parse_wkb(bytes(b))[1] for b in lines["line_wkb"]]
    lid = np.concatenate([np.full(len(c) - 1, i) for i, c in enumerate(coords)])
    P = np.vstack([c[:-1] for c in coords])
    Q = np.vstack([c[1:] for c in coords])
    seg_len = np.hypot(*(Q - P).T)
    lo_xy, hi_xy = np.minimum(P, Q), np.maximum(P, Q)
    inside = np.zeros(len(coords))
    for ring in rings:
        rmin, rmax = ring.min(axis=0), ring.max(axis=0)
        sel = np.flatnonzero((hi_xy >= rmin).all(axis=1)
                             & (lo_xy <= rmax).all(axis=1))
        if len(sel):
            np.add.at(inside, lid[sel], _inside_length(P[sel], Q[sel], ring))
    total = np.bincount(lid, weights=seg_len, minlength=len(coords))
    pct = np.minimum(100.0, np.where(total > 0, inside / np.where(
        total > 0, total, 1.0) * 100.0, 0.0))
    zonal = pd.DataFrame({"doc_id": lines["doc_id"].to_numpy(),
                          "geom_wkb": list(lines["line_wkb"]),
                          "pct_in_surface": pct})

    # kNN: brute force for the sampled queries
    q = pages[pages["knn_query"]]
    sample = q[q["doc_id"].isin(sample_ids)]
    xi, yi = x.astype(np.int64), y.astype(np.int64)
    rows = []
    for qid, qx, qy in zip(sample["doc_id"], sample["x"].astype(np.int64),
                           sample["y"].astype(np.int64)):
        d2 = (xi - qx) ** 2 + (yi - qy) ** 2
        best = np.lexsort((ids, d2))[:k]
        rows += [(qid, ids[j], d2[j], r + 1) for r, j in enumerate(best)]
    knn = pd.DataFrame(rows, columns=["qid", "did", "d2", "rn"])
    return {"pip": pip, "tiles": tiles, "raster": raster, "zonal": zonal,
            "knn": {"rows": k * len(q), "sample": knn}}


# ------------------------------------------------------------------- corpus

def _shingles(k: int) -> str:
    return (f"CASE WHEN len(toks) < {k} THEN [array_to_string(toks, ' ')] "
            f"ELSE list_transform(range(1, len(toks) - {k} + 2), "
            f"i -> array_to_string(list_slice(toks, i, i + {k} - 1), ' ')) END")


_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _bands(src: str, p: str) -> str:
    """(doc_id, band_idx, band_key) of the engine's MinHash-LSH layout:
    one md5 per shingle → 60-bit int mod P, affine hashes, md5 band keys."""
    bs, nh, P = TX.LSH_BAND_SIZE, TX.MINHASH_HASHES, TX.MINHASH_P
    mh = ", ".join(
        f"list_min(list_transform(hv, h -> ({TX.MINHASH_A[i]} * h "
        f"+ {TX.MINHASH_B[i]}) % {P})) AS mh_{i}" for i in range(nh))
    keys = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(" + " || '|' || ".join(
            f"CAST(mh_{b * bs + j} AS VARCHAR)" for j in range(bs))
        + f") AS band_key FROM {p}sig" for b in range(nh // bs))
    return f"""
{p}t AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
{p}hv AS (SELECT doc_id, list_transform({_shingles(TX.MINHASH_K)}, s ->
    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P}) AS hv FROM {p}t),
{p}sig AS (SELECT doc_id, {mh} FROM {p}hv),
{p}bands AS ({keys})"""


def _refresh_sql(threshold: float, min_tokens: int) -> str:
    dig = ("md5(coalesce(text, chr(1)) || chr(31) || coalesce(lang, chr(1))"
           " || chr(31) || coalesce(source, chr(1)) || chr(31))")
    k = TX.MINHASH_K
    return f"""
WITH od AS (SELECT doc_id, {dig} AS dg FROM old),
nd AS (SELECT doc_id, {dig} AS dg FROM new),
delta AS (SELECT nd.doc_id FROM nd LEFT JOIN od USING (doc_id)
          WHERE od.doc_id IS NULL OR od.dg <> nd.dg),
cand AS (SELECT n.* FROM new n JOIN delta USING (doc_id)),
olddig AS (SELECT DISTINCT md5(text) AS digest FROM old),
{_bands('cand', 'n')},
{_bands('old', 'o')},
bpair AS (SELECT DISTINCT n.doc_id AS n_id, o.doc_id AS o_id
          FROM nbands n JOIN obands o
            ON n.band_idx = o.band_idx AND n.band_key = o.band_key),
css AS (SELECT doc_id, list_distinct({_shingles(k)}) AS sh FROM nt),
oss AS (SELECT doc_id, list_distinct({_shingles(k)}) AS sh FROM ot),
near AS (SELECT DISTINCT bpair.n_id AS doc_id FROM bpair
         JOIN css sn ON sn.doc_id = bpair.n_id
         JOIN oss so ON so.doc_id = bpair.o_id
         WHERE CAST(len(list_intersect(sn.sh, so.sh)) AS DOUBLE)
               / len(list_distinct(sn.sh || so.sh)) >= {threshold}),
outcome AS (
  SELECT c.source, len({_TOKS.replace('text', 'c.text')}) AS n_tok,
         (md5(c.text) IN (SELECT digest FROM olddig)) AS de,
         (c.doc_id IN (SELECT doc_id FROM near)) AS dn
  FROM cand c)
SELECT source,
       count(*) AS n_candidates,
       sum(de::INT) AS n_exact,
       sum((NOT de AND dn)::INT) AS n_near,
       sum((NOT de AND NOT dn AND n_tok < {min_tokens})::INT) AS n_gate_failed,
       sum((NOT de AND NOT dn AND n_tok >= {min_tokens})::INT) AS n_admitted,
       sum(CASE WHEN NOT de AND NOT dn AND n_tok >= {min_tokens}
                THEN n_tok ELSE 0 END) AS tok_admitted
FROM outcome GROUP BY source
"""


def _curation_sql(min_tokens: int, rep_factor: int, k: int, cap: int,
                  budget: int) -> str:
    return f"""
WITH base AS (
  SELECT doc_id, source, n_chars, md5(text) AS text_hash,
         len({_TOKS}) AS n_tokens FROM docs),
keep AS (SELECT text_hash, min(doc_id) AS keep_id FROM base GROUP BY text_hash),
top AS (
  SELECT doc_id, max(c) AS top_token_count FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM docs)
    GROUP BY doc_id, tok)
  GROUP BY doc_id),
t AS (SELECT doc_id, {_TOKS} AS toks FROM docs),
bt AS (SELECT {_TOKS} AS toks FROM bench),
bsh AS (SELECT DISTINCT unnest(list_distinct({_shingles(k)})) AS sh FROM bt),
dsh AS (SELECT doc_id, unnest(list_distinct({_shingles(k)})) AS sh FROM t),
contaminated AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh USING (sh)),
surv AS (
  SELECT b.doc_id, b.source, b.n_chars, b.n_tokens
  FROM base b JOIN keep k USING (text_hash) JOIN top tt USING (doc_id)
  WHERE b.doc_id = k.keep_id AND b.n_tokens >= {min_tokens}
    AND tt.top_token_count * {rep_factor} <= b.n_tokens
    AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)),
capped AS (
  SELECT doc_id, source, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM surv),
packed AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM capped WHERE rn <= {cap})
SELECT doc_id, source, n_tokens, tok_start // {budget} AS shard,
       tok_start % {budget} AS tok_offset
FROM packed
"""


def corpus_expected(tables: dict[str, pd.DataFrame]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name in ("old", "new", "bench"):
            con.register(name, tables[name])
        con.register("docs", tables["new"])
        return {
            "manifest": con.execute(_refresh_sql(0.5, 4)).fetchdf(),
            "curated": con.execute(_curation_sql(10, 5, 3, 15, 2048)).fetchdf(),
        }
    finally:
        con.close()
