"""Seeded input generators and their reference answers.

Everything a workload feeds the engine is made here from ``seed``
alone (numpy ``default_rng``), together with the answer the engine
must reproduce.  Nothing here imports the engine: the reference
answers are computed from the generator's own construction or by
plain numpy scans, never by calling the code under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import numpy as np

# ---------------------------------------------------------------- shared

EARTH_R_M = 6371000.0  # sphere radius of the engine's haversine
HOT_LAT, HOT_LON, HOT_SPAN = 41.0, 19.6, 0.3  # the dense "city" cell
CCTLD = {  # tld -> centroid used by the ccTLD geocode path
    "al": (41.0, 20.0), "in": (21.0, 78.5), "de": (51.0, 10.5),
    "fr": (47.0, 2.5), "it": (42.5, 12.5), "gr": (39.0, 22.0),
    "es": (40.0, -3.5), "uk": (54.0, -2.0), "us": (39.5, -98.5),
    "br": (-10.0, -52.0),
}


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = int.from_bytes(hashlib.sha256(f"{seed}:{salt}".encode()).digest()[:8], "little")
    return np.random.default_rng(h)


def _vocab(n: int = 6000) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    r = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters, size=int(r.integers(4, 9)))))
    return sorted(words)


VOCAB = _vocab()


def _words(r: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), size=n)]


def haversine_m(lat1, lon1, lat2, lon2):
    la1, la2 = np.radians(lat1), np.radians(lat2)
    a = np.sin((la2 - la1) / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(
        np.radians(np.asarray(lon2) - np.asarray(lon1)) / 2.0
    ) ** 2
    return 2.0 * EARTH_R_M * np.arcsin(np.sqrt(np.minimum(1.0, a)))


def bbox_counts(lat, lon, boxes: list[tuple[str, tuple]]) -> dict[str, int]:
    """Point count per box by a plain inclusive bbox predicate (no
    cell index) — the PIP reference."""
    out = {}
    for code, (x0, y0, x1, y1) in boxes:
        n = int(np.count_nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)))
        if n:
            out[code] = n
    return out


def knn_reference(lat, lon, qlat, qlon, k):
    """The k smallest distances from one query (brute force)."""
    d = haversine_m(qlat, qlon, lat, lon)
    return np.sort(d)[:k]


def _points(r: np.random.Generator, n: int, hot_share: float):
    hot = r.random(n) < hot_share
    lat = np.where(hot, HOT_LAT + r.random(n) * HOT_SPAN, -58.0 + r.random(n) * 130.0)
    lon = np.where(hot, HOT_LON + r.random(n) * HOT_SPAN, -180.0 + r.random(n) * 360.0)
    return lat, lon


def _boxes(r: np.random.Generator, n: int, half_max: float, prefix: str):
    """``n`` boxes with half-sizes log-uniform in [0.25°, half_max]; one
    of them always covers the hot cell, so every set meets the skew."""
    out = []
    for i in range(n):
        half = math.exp(r.uniform(math.log(0.25), math.log(half_max)))
        if i == 0:
            cx, cy = HOT_LON + HOT_SPAN / 2, HOT_LAT + HOT_SPAN / 2
        else:
            cx, cy = r.uniform(-170, 170), r.uniform(-55, 70)
        box = (
            round(max(-180.0, cx - half), 4), round(max(-90.0, cy - half / 2), 4),
            round(min(180.0, cx + half), 4), round(min(90.0, cy + half / 2), 4),
        )
        out.append((f"{prefix}{i:03d}", box))
    return out


# ---------------------------------------------------------- geo_pipeline

PIPE_DOCS = 4000
PIPE_K = 5


def pages(seed: int, n: int = PIPE_DOCS) -> dict:
    """The pages table (page_id, part, url, warc_ts, html, text, lang)
    with the three geocode paths present in seeded shares, plus a
    share of pages no path can geocode.  Returns the columns and the
    expected geocode outcome per page."""
    r = _rng(seed, "pages")
    hot_share = float(r.uniform(0.1, 0.3))
    lat, lon = _points(r, n, hot_share)
    lat, lon = np.round(lat, 4), np.round(lon, 4)
    # path: 0 = url coords, 1 = geo: marker in text, 2 = ccTLD, 3 = none
    share = r.dirichlet([4, 4, 3, 0.6])
    path = r.choice(4, size=n, p=share)
    tlds = list(CCTLD)
    tld_i = r.integers(0, len(tlds), size=n)
    n_words = r.integers(30, 90, size=n)
    ts0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ts = ts0 + r.integers(0, 86400 * 30, size=n)
    urls, texts, htmls, langs, exp_lat, exp_lon, methods = [], [], [], [], [], [], []
    for i in range(n):
        p = int(path[i])
        tld = "com" if p == 3 else tlds[tld_i[i]]
        coord = f"{lat[i]:.4f},{lon[i]:.4f}"
        url = f"https://site{i % 997}.{tld}/doc/{i}"
        body = " ".join(_words(r, int(n_words[i])))
        if p == 0:
            url += f"/@{coord}"
        elif p == 1:
            body += f"\ngeo: {lat[i]:.4f}, {lon[i]:.4f}"
        paras = body.replace("\n", "</p>\n<p>")
        html = (
            f"<html><head><title>page {i}</title><style>p {{margin:0}}</style></head>"
            f"<body>\n<p>{paras}</p>\n<script>var x = {i};</script></body></html>"
        )
        if p <= 1:
            la, lo, m = float(lat[i]), float(lon[i]), ("url" if p == 0 else "content")
        elif p == 2:
            (la, lo), m = CCTLD[tld], "cctld"
        else:
            la, lo, m = None, None, "none"
        urls.append(url)
        texts.append(body)
        htmls.append(html.encode())
        langs.append(tld)
        exp_lat.append(la)
        exp_lon.append(lo)
        methods.append(m)
    return {
        "columns": {
            "page_id": np.arange(n, dtype=np.int64),
            "part": (np.arange(n) % 16).astype(np.int64),
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": langs,
        },
        "expected": {"lat": exp_lat, "lon": exp_lon, "method": methods},
        "hot_share": hot_share,
    }


def pipeline_queries(seed: int) -> dict:
    """Country-like boxes for the PIP stage and kNN query points: one in
    the hot cell and five within 3° of seeded ccTLD centroids, where
    geocoded pages stack up.  The auto-grow loop runs until its worst
    query is satisfied, so one query in an empty stretch of ocean adds
    rounds that cost more than the rest of the stage (paid again on
    resume); queries in populated places keep the round count from
    hanging on where the seed puts them."""
    r = _rng(seed, "pipeline_queries")
    boxes = _boxes(r, int(r.integers(12, 20)), 25.0, "C")
    queries = [(0, HOT_LAT + float(r.random()) * HOT_SPAN, HOT_LON + float(r.random()) * HOT_SPAN)]
    tlds = list(CCTLD)
    for i, t in enumerate(r.choice(len(tlds), size=5, replace=False), 1):
        clat, clon = CCTLD[tlds[t]]
        queries.append((i, clat + float(r.uniform(-3, 3)), clon + float(r.uniform(-3, 3))))
    return {"boxes": boxes, "queries": queries, "k": PIPE_K}


# ----------------------------------------------------------- geo_queries

QUERY_POINTS = 300_000
POOL = 6  # distinct queries per kind; the loop cycles through them
KINDS = ("pip", "pip_s2", "pip_h3", "knn", "radius", "tile")


def query_points(seed: int, n: int = QUERY_POINTS) -> dict:
    r = _rng(seed, "query_points")
    hot_share = float(r.uniform(0.1, 0.3))
    lat, lon = _points(r, n, hot_share)
    return {"page_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon, "hot_share": hot_share}


def tile_catalog(r: np.random.Generator) -> dict:
    """A multi-date, multi-band lon/lat tile grid: every (date, band)
    mosaic is the grid's bounding box, so offsets are known by
    construction."""
    nx, ny = int(r.integers(2, 6)), int(r.integers(2, 6))
    size = int(r.choice([256, 512, 1200]))
    res = float(r.choice([0.001, 0.0025, 0.005]))
    x0, y0 = round(float(r.uniform(-20, 20)), 3), round(float(r.uniform(0, 50)), 3)
    n_dates, n_bands = int(r.integers(1, 4)), int(r.integers(1, 4))
    bands = [(b + 1, f"B{b + 1:02d}", "Int16", -9999.0) for b in range(n_bands)]
    dates = [dt.datetime(2020, 1, 1) + dt.timedelta(days=16 * d) for d in range(n_dates)]
    rows, placement = [], {}
    for d in dates:
        for i in range(nx):
            for j in range(ny):
                name = f"t{i}_{j}"
                gt = [x0 + i * size * res, res, 0.0, y0 - j * size * res, 0.0, -res]
                rows.append((f"s3://tiles/{d:%Y%m%d}/{name}.TIF", f"/vsis3/tiles/{name}.TIF",
                             name, d, gt, "EPSG:4326", size, size, "EPSG:4326", "degree", bands))
                placement[name] = (i * size, j * size)
    w = nx * size * res
    h = ny * size * res
    cx0, cy0 = x0 + r.uniform(0.1, 0.4) * w, y0 - r.uniform(0.1, 0.4) * h
    clip = (round(cx0, 4), round(cy0 - r.uniform(0.2, 0.5) * h, 4),
            round(cx0 + r.uniform(0.2, 0.5) * w, 4), round(cy0, 4))
    # clip windows by the GDAL rounding rule on the known mosaic origin
    win = (
        math.floor((clip[0] - x0) / res + 0.001), math.floor((clip[3] - y0) / -res + 0.001),
        int((clip[2] - clip[0]) / res + 0.5), int((clip[1] - clip[3]) / -res + 0.5),
    )
    return {
        "rows": rows, "placement": placement, "mosaic": (nx * size, ny * size),
        "n_groups": n_dates * n_bands, "clip": clip, "window": win,
        "bands": [b[1] for b in bands],
    }


def query_pool(seed: int, pts: dict) -> dict:
    """POOL queries per kind with their reference answers.  The seed
    varies polygon count and size, the hot share of query points, k,
    the radius and the tile grid; the kind mix itself is fixed."""
    r = _rng(seed, "query_pool")
    lat, lon = pts["lat"], pts["lon"]
    pool = {}
    pip = []
    for q in range(POOL):
        n = int(round(math.exp(r.uniform(math.log(2), math.log(64)))))
        half_max = 40.0 if n <= 8 else 4.0  # few continents … many small boxes
        boxes = _boxes(r, n, half_max, "P")
        pip.append({"boxes": boxes, "expect": bbox_counts(lat, lon, boxes)})
    pool["pip"] = pool["pip_s2"] = pool["pip_h3"] = pip
    knn = []
    for q in range(POOL):
        nq = int(r.integers(1, 7))
        qlat, qlon = _points(r, nq, float(r.uniform(0.0, 0.5)))
        k = int(r.choice([1, 5, 10, 20]))
        qs = [(i, float(qlat[i]), float(qlon[i])) for i in range(nq)]
        knn.append({"queries": qs, "k": k,
                    "expect": {i: knn_reference(lat, lon, a, b, k) for i, a, b in qs}})
    pool["knn"] = knn
    radius = []
    for q in range(POOL):
        nq = int(r.integers(1, 5))
        qlat, qlon = _points(r, nq, float(r.uniform(0.0, 0.5)))
        rad = float(math.exp(r.uniform(math.log(2_000), math.log(150_000))))
        qs = [(i, float(qlat[i]), float(qlon[i])) for i in range(nq)]
        exp = {}
        for i, a, b in qs:
            d = haversine_m(a, b, lat, lon)
            exp[i] = (set(np.flatnonzero(d <= rad * (1 - 1e-9)).tolist()),
                      set(np.flatnonzero(d <= rad * (1 + 1e-9)).tolist()))
        radius.append({"queries": qs, "radius_m": rad, "expect": exp})
    pool["radius"] = radius
    pool["tile"] = [tile_catalog(r) for _ in range(POOL)]
    order = []
    for _ in range(200):  # fixed mix, seeded order within each round
        order.extend(r.permutation(KINDS).tolist())
    pool["order"] = order
    return pool


# ----------------------------------------------------------- text_curate

CURATE_DOCS = 1000
BOILERPLATE = (
    "all rights reserved by the publisher no part of this page may be "
    "reproduced without written permission from the owner"
)


def _jaccard(a: str, b: str, k: int = 5) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


def corpus(seed: int, n: int = CURATE_DOCS) -> dict:
    """documents (doc_id, text, lang, source, n_chars) with planted
    shape failures, eval leakage, exact duplicates, near-duplicates and
    a boilerplate sentence (the stop-shingle).  Returns the rows and
    the funnel the curation job must report."""
    r = _rng(seed, "corpus")
    dup_share = float(r.uniform(0.05, 0.15))
    near_share = float(r.uniform(0.03, 0.08))
    boiler_share = float(r.uniform(0.08, 0.12))
    texts: list[str] = []
    kind: list[str] = []
    for i in range(n):
        texts.append(" ".join(_words(r, int(r.integers(80, 160)))))
        kind.append("plain")
    # docs 0..2 are the eval sources curate.run lifts its snippets from
    order = r.permutation(np.arange(3, n))
    cur = 0

    def take(m):
        nonlocal cur
        out = order[cur:cur + m].tolist()
        cur += m
        return out

    n_short = int(r.integers(10, 40))
    n_spam = int(r.integers(10, 40))
    n_leak = int(r.integers(5, 20))
    n_dup = int(n * dup_share)
    n_near = int(n * near_share)
    for i in take(n_short):
        texts[i] = " ".join(_words(r, int(r.integers(10, 40))))
        kind[i] = "short"
    for i in take(n_spam):
        texts[i] = " ".join(_words(r, 12) * int(r.integers(8, 14)))
        kind[i] = "spam"
    for i in take(n_leak):
        src = int(r.integers(0, 3))
        span = texts[src].split()[4:24]
        w = texts[i].split()
        at = int(r.integers(0, len(w)))
        texts[i] = " ".join(w[:at] + span + w[at:])
        kind[i] = "leak"
    dup_targets = take(n_dup)
    near_targets = take(n_near)
    sources = order[cur:].tolist()
    # boilerplate closes a seeded share of the ordinary docs; near and
    # exact duplicates are made after it, from their source's final text
    for i in sources:
        if r.random() < boiler_share:
            texts[i] = texts[i] + " " + BOILERPLATE
    near_pairs = []
    for j, i in enumerate(near_targets):
        s = sources[j % len(sources)]
        w = texts[s].split()
        for _ in range(2):
            w[int(r.integers(0, len(w)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts[i] = " ".join(w)
        kind[i] = "near"
        near_pairs.append((min(i, s), max(i, s), _jaccard(texts[i], texts[s])))
    for j, i in enumerate(dup_targets):
        texts[i] = texts[sources[(j * 7 + 3) % len(sources)]]
        kind[i] = "dup"
    n_quality = n - n_short - n_spam
    n_decontam = n_quality - n_leak - 3
    unique = {texts[i] for i in range(3, n) if kind[i] in ("plain", "dup", "near")}
    lang = ["en"] * n
    source = [("web", "wiki", "news")[i % 3] for i in range(n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "expect": {
            "docs_in": n,
            "after_quality": n_quality,
            "after_decontam": n_decontam,
            "after_dedup": len(unique),
        },
        "near_pairs": near_pairs,
        "dup_groups": n_dup,
        "boiler_docs": sum(BOILERPLATE in t for t in unique),
        "shares": {"dup": dup_share, "near": near_share, "boilerplate": boiler_share},
    }


# ---------------------------------------------------------- stream_dedup

STREAM_FILES = 24
STREAM_ROWS = 1500  # per file


def distinct_texts(ids, texts) -> dict:
    """md5 of each distinct text → (its minimum id, its count): what an
    exact dedup must keep."""
    out: dict = {}
    for i, t in zip(ids, texts):
        md5 = hashlib.md5(t.encode()).hexdigest()
        mn, n = out.get(md5, (i, 0))
        out[md5] = (min(mn, i), n + 1)
    return out


def stream_files(seed: int) -> dict:
    """Document files with a seeded duplicate share (repeats of texts
    seen earlier in the stream) and event files in time order."""
    r = _rng(seed, "stream")
    dup_share = float(r.uniform(0.3, 0.5))
    files = []
    seen: list[str] = []
    doc_id = 0
    for f in range(STREAM_FILES):
        ids, texts = [], []
        for _ in range(STREAM_ROWS):
            if seen and r.random() < dup_share:
                t = seen[int(r.integers(0, len(seen)))]
            else:
                t = " ".join(_words(r, int(r.integers(5, 20))))
                seen.append(t)
            ids.append(doc_id)
            texts.append(t)
            doc_id += 1
        files.append({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    t0 = dt.datetime(2024, 1, 1)
    ev_files, windows = [], {}
    eid = 0
    for f in range(STREAM_FILES):
        # each file spans one hour, events in order: none arrives late
        secs = np.sort(r.integers(0, 3600, size=STREAM_ROWS))
        vals = np.round(r.random(STREAM_ROWS) * 100, 3)
        ts = [t0 + dt.timedelta(hours=f, seconds=int(s)) for s in secs]
        ev_files.append({
            "event_id": np.arange(eid, eid + STREAM_ROWS, dtype=np.int64),
            "ts": ts, "value": vals,
        })
        eid += STREAM_ROWS
        windows[t0 + dt.timedelta(hours=f)] = (STREAM_ROWS, float(vals.sum()))
    distinct = distinct_texts(
        [i for f in files for i in f["doc_id"].tolist()], [t for f in files for t in f["text"]])
    return {"doc_files": files, "distinct": distinct, "event_files": ev_files,
            "windows": windows, "dup_share": dup_share}
