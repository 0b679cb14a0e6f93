"""The four workloads, defined in one place.

Each workload has the same shape:

* ``inputs``  — write the seeded raw inputs (not part of ``setup_s``);
* ``build``   — build the stored tables the timed part reads (part of
                ``setup_s``);
* ``warm``    — one untimed pass on a small slice, so JIT, codegen and
                Python imports finish before timing;
* ``step``    — one repetition of the timed work, every output checked;
* ``report``  — the workload's named end-to-end figures from the
                samples, and ``primary``: its throughput and the
                operation whose median is ``op_p50_s``.
"""

from __future__ import annotations

import json
import math
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from stats import median, tail


def _write_parquet(cols: dict, path: Path, files: int, schema: pa.Schema | None = None) -> None:
    path.mkdir(parents=True, exist_ok=True)
    t = pa.table(cols, schema=schema)
    step = math.ceil(t.num_rows / files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step), path / f"part-{i:04d}.parquet")


def _read(path: Path, columns=None) -> pa.Table:
    return pq.read_table(path, columns=columns)


class Workload:
    name = ""
    # a one-shot workload times one job in a fresh JVM, as spark-submit
    # runs it: JIT and codegen are part of what its users wait for
    ONE_SHOT = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}

    def sample(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)

    def inputs(self):
        pass

    def build(self):
        pass

    def warm(self):
        pass


# ====================================================== geo_pipeline


class GeoPipeline(Workload):
    """The jobs/pipeline.py stage sequence over a stored pages table,
    each stage committed through lineage.resume_filter/commit_stage,
    then the same job id re-run (the resume path)."""

    name = "geo_pipeline"
    ONE_SHOT = True
    CELL_RES = 7

    def inputs(self):
        c = self.ctx
        self.pages = gen.pages(c.seed)
        self.q = gen.pipeline_queries(c.seed)
        cols = self.pages["columns"]
        cols = dict(cols, warc_ts=pa.array(cols["warc_ts"] * 1_000_000, pa.timestamp("us", tz="UTC")))
        self.pages_path = c.work / "pages"
        _write_parquet(cols, self.pages_path, files=c.nproc * 2)
        self.n_docs = len(cols["url"])
        self.runs = 0

    def _job(self, pages_path: Path, base: Path, job_id: str) -> None:
        from pyspark.sql import functions as F

        from earth_data_kit_spark.functions.columns import cell_id_col
        from earth_data_kit_spark.functions.udfs import extract_geocode_udf
        from earth_data_kit_spark.operators import spatial_join as sj
        from earth_data_kit_spark.operators.knn import knn_join
        from earth_data_kit_spark.operators.spatial_join_s2 import s2_leaf_udf
        from earth_data_kit_spark.plans import lineage
        from earth_data_kit_spark.text.textcols import quality_score_col

        spark, tr, b = self.ctx.spark, self.ctx.tr, str(base)

        def stage(name, make, cols=None, op=None):
            """Build the stage's DataFrame and commit what the lineage
            table does not yet hold, inside one span."""
            with tr.span(f"stage:{name}", layer="stage", op=op or name):
                df, release = make()
                try:
                    todo = lineage.resume_filter(df, b, job_id, name, "part")
                    if not todo.isEmpty():
                        lineage.commit_stage(todo, b, job_id, name, "part", lineage_cols=cols)
                finally:
                    if release:
                        df.unpersist()

        ingested = spark.read.parquet(str(pages_path))
        stage("geocode", lambda: (
            ingested.select(
                "page_id", "url", "part",
                extract_geocode_udf(F.col("html"), F.col("url")).alias("g"),
            )
            .select("page_id", "url", "part", F.col("g.lat").alias("lat"),
                    F.col("g.lon").alias("lon"), F.col("g.method").alias("method"))
            .where(F.col("lat").isNotNull())
            .withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), self.CELL_RES))
            .withColumn("s2_leaf", s2_leaf_udf()(F.col("lon"), F.col("lat"))),
            False,
        ), ["page_id", "cell"])
        geocoded = spark.read.parquet(f"{b}/geocode/data")
        polys = [sj.Polygon(code=c, name=c, bbox=bb) for c, bb in self.q["boxes"]]
        stage("pip_counts", lambda: (
            sj.pip_join(geocoded, polys, res=self.CELL_RES)
            .groupBy("code").agg(F.count("*").alias("n_pages"))
            .withColumn("part", F.lit(0)),
            False,
        ), op="pip")
        # the kNN result is persisted for the stage's two actions and
        # released after them, as jobs/pipeline.py does
        stage("knn", lambda: (
            knn_join(
                geocoded, self.q["queries"], k=self.q["k"], res=5, ring=4,
                id_col="page_id", auto_grow=True, max_ring=64,
            ).withColumn("part", F.col("query_id")).persist(),
            True,
        ), op="knn")
        stage("quality", lambda: (
            ingested.select("part", "text")
            .withColumn("q", quality_score_col(F.col("text")))
            .withColumn("text_md5", F.md5("text"))
            .groupBy("part")
            .agg(F.count("*").alias("n_pages"), F.round(F.avg("q"), 6).alias("avg_quality"),
                 F.countDistinct("text_md5").alias("n_unique_texts")),
            False,
        ))
        self.ctx.guard("pipeline job")

    def step(self):
        c = self.ctx
        base = c.work / f"pipe_{self.runs}"
        job_id = f"job{self.runs}"
        self.runs += 1
        ok = c.op("job", lambda: self._job(self.pages_path, base, job_id),
                  check=lambda: self._check_job(base))
        if ok:
            self.sample("docs_per_s", self.n_docs / c.last_wall)
            lin0 = self._lineage(base)
            ok = c.op("resume", lambda: self._job(self.pages_path, base, job_id),
                      check=lambda: self._check_resume(base, lin0))
            if ok:
                self.sample("resume_s", c.last_wall)
        if c.tr.enabled:
            self.layer["plans.bytes_written"] = sum(
                p.stat().st_size for p in base.rglob("*") if p.is_file()
            )
        shutil.rmtree(base, ignore_errors=True)

    # ---- checks
    def _lineage(self, base: Path) -> list[tuple]:
        t = _read(base / "lineage").to_pydict()
        return sorted(zip(t["stage"], t["part_key"], t["row_count"], t["checksum"]))

    def _check_job(self, base: Path) -> str | None:
        exp = self.pages["expected"]
        g = _read(base / "geocode" / "data", ["page_id", "lat", "lon", "method"]).to_pydict()
        want = sum(m != "none" for m in exp["method"])
        if len(g["page_id"]) != want:
            return f"geocode rows {len(g['page_id'])} != {want}"
        for pid, la, lo, m in zip(g["page_id"], g["lat"], g["lon"], g["method"]):
            if (la, lo, m) != (exp["lat"][pid], exp["lon"][pid], exp["method"][pid]):
                return f"page {pid} geocoded to {(la, lo, m)}"
        self.layer["text.geocode_hit_ratio"] = want / self.n_docs
        lat, lon = np.array(g["lat"]), np.array(g["lon"])
        pc = _read(base / "pip_counts" / "data", ["code", "n_pages"]).to_pydict()
        got = dict(zip(pc["code"], pc["n_pages"]))
        ref = gen.bbox_counts(lat, lon, self.q["boxes"])
        if got != ref:
            return f"pip counts {got} != bbox scan {ref}"
        ids = np.array(g["page_id"])
        order = np.argsort(ids)
        kn = _read(base / "knn" / "data", ["query_id", "page_id", "dist_m"]).to_pydict()
        for qid, qlat, qlon in self.q["queries"]:
            mine = [p for q, p in zip(kn["query_id"], kn["page_id"]) if q == qid]
            ref = gen.knn_reference(lat, lon, qlat, qlon, self.q["k"])
            err = _knn_mismatch(mine, ref, ids, order, lat, lon, qlat, qlon)
            if err:
                return f"knn query {qid}: {err}"
        return self._check_checksums(base)

    def _check_checksums(self, base: Path) -> str | None:
        """Recompute every committed partition's (row_count, checksum)
        from the stage data with plain SQL (one job for all stages) and
        compare to lineage."""
        from functools import reduce

        from pyspark.sql import functions as F

        spark = self.ctx.spark
        parts = []
        for stage, cols in (("geocode", ["page_id", "cell"]), ("pip_counts", None),
                            ("knn", None), ("quality", None)):
            df = spark.read.parquet(str(base / stage / "data"))
            # commit_stage hashes its semi-joined re-read, whose column
            # order puts the join key first
            cols = cols or ["part"] + [x for x in df.columns if x != "part"]
            parts.append(df.groupBy("part").agg(
                F.count("*").alias("n"),
                F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
            ).withColumn("stage", F.lit(stage)))
        got = {(r["stage"], r["part"]): (r["n"], r["h"])
               for r in reduce(lambda a, b: a.unionByName(b), parts).collect()}
        lin = {(s, p): (n, h) for s, p, n, h in self._lineage(base)}
        if got != lin:
            bad = sorted(set(got.items()) ^ set(lin.items()))[:2]
            return f"lineage differs from a recomputation: {bad}"
        return None

    def _check_resume(self, base: Path, before: list) -> str | None:
        after = self._lineage(base)
        # partitions the re-run skipped ÷ partitions the job committed
        recommitted = len(after) - len(before)
        self.layer["plans.resume_skip_ratio"] = max(0, len(before) - recommitted) / len(before)
        if after != before:
            return f"re-run changed lineage: {len(after) - len(before)} new rows"
        return None

    def report(self):
        docs = self.samples.get("docs_per_s", [])
        res = self.samples.get("resume_s", [])
        return {
            "docs_per_s": (median(docs), "docs/s") if docs else None,
            "resume_s": (median(res), "s") if res else None,
        }, ("docs_per_s", "resume_s")


def _knn_mismatch(mine, ref, ids, order, lat, lon, qlat, qlon) -> str | None:
    """kNN result vs brute force, robust to ties: the returned ids must
    be distinct and their distances must equal the k smallest."""
    if len(mine) != len(ref) or len(set(mine)) != len(mine):
        return f"{len(mine)} rows for k={len(ref)}"
    pos = order[np.searchsorted(ids, mine, sorter=order)]
    d = np.sort(gen.haversine_m(qlat, qlon, lat[pos], lon[pos]))
    if not np.allclose(d, ref, rtol=1e-9, atol=1e-6):
        return f"distances {d[:3]} != brute force {ref[:3]}"
    return None


# ======================================================= geo_queries


class GeoQueries(Workload):
    """One closed-loop client running a seeded query mix over a stored
    point table that carries every index column (quadgrid cell, S2
    leaf, H3 r0..r4), sorted by quadgrid cell."""

    name = "geo_queries"
    BUILDS = 3
    KNN_RES = 7  # stored quadgrid cell: ~10 points per cell outside the hot cell

    def inputs(self):
        c = self.ctx
        self.pts = gen.query_points(c.seed)
        self.pool = gen.query_pool(c.seed, self.pts)
        self.raw = c.work / "points"
        _write_parquet({k: self.pts[k] for k in ("page_id", "lon", "lat")}, self.raw,
                       files=c.nproc)
        self.n_points = len(self.pts["page_id"])
        self.ids = self.pts["page_id"]
        self.order = np.argsort(self.ids)
        self.i = 0
        self.pos = {k: 0 for k in gen.KINDS}

    def build(self):
        from pyspark.sql import functions as F

        from earth_data_kit_spark.functions.columns import cell_id_col
        from earth_data_kit_spark.operators.spatial_join_h3 import h3_cells_udf
        from earth_data_kit_spark.operators.spatial_join_s2 import s2_leaf_udf

        spark = self.ctx.spark
        self.index = self.ctx.work / "index"
        df = (
            spark.read.parquet(str(self.raw))
            .withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), self.KNN_RES))
            .withColumn("s2_leaf", s2_leaf_udf()(F.col("lon"), F.col("lat")))
            .withColumn("_h3", h3_cells_udf([0, 1, 2, 3, 4])(F.col("lon"), F.col("lat")))
        )
        for r in range(5):
            df = df.withColumn(f"h3_cell_r{r}", F.col("_h3")[r])
        (
            df.drop("_h3").repartitionByRange(self.ctx.nproc, "cell")
            .sortWithinPartitions("cell").write.mode("overwrite").parquet(str(self.index))
        )
        self.points = spark.read.parquet(str(self.index))
        # the tile catalogs are stored tables too
        for i, q in enumerate(self.pool["tile"]):
            q["path"] = str(self.ctx.work / f"catalog_{i}")
            spark.createDataFrame(q["rows"], _CATALOG_SCHEMA).write.mode("overwrite").parquet(q["path"])

    # ---- the six query kinds: run → result rows, check → error or None
    def _run(self, kind: str, q: dict):
        from pyspark.sql import functions as F

        from earth_data_kit_spark.operators import assign
        from earth_data_kit_spark.operators import spatial_join as sj
        from earth_data_kit_spark.operators.knn import knn_join
        from earth_data_kit_spark.operators.spatial_join_h3 import pip_join_h3
        from earth_data_kit_spark.operators.spatial_join_s2 import pip_join_s2, radius_join_s2

        pts = self.points
        if kind.startswith("pip"):
            polys = [sj.Polygon(code=c, name=c, bbox=b) for c, b in q["boxes"]]
            if kind == "pip":
                j = sj.pip_join(pts, polys, res=7)
            elif kind == "pip_s2":
                j = pip_join_s2(pts, polys, level=6, leaf_col="s2_leaf")
            else:
                j = pip_join_h3(pts, polys, res=4, cell_col="h3_cell_r{res}")
            return {r["code"]: r["count"] for r in j.groupBy("code").count().collect()}
        if kind == "knn":
            return knn_join(pts, q["queries"], k=q["k"], res=self.KNN_RES, ring=1,
                            id_col="page_id", cell_col="cell", auto_grow=True).collect()
        if kind == "radius":
            # the coarsest level whose 2-ring still covers the radius
            level = max(2, min(12, int(math.log2(gen.EARTH_R_M / q["radius_m"])) - 1))
            j = radius_join_s2(pts, q["queries"], q["radius_m"], level=level, leaf_col="s2_leaf")
            return {r["query_id"]: r["count"] for r in j.groupBy("query_id").count().collect()}
        cat = self.ctx.spark.read.parquet(q["path"])
        a = assign.tile_assignments(assign.explode_bands(cat))
        rows = a.select("tile_name", "dst_xoff", "dst_yoff", "mosaic_xsize", "mosaic_ysize").collect()
        win = assign.clip_windows(a, q["clip"], "EPSG:4326").select(
            "xoff", "yoff", "xsize", "ysize").collect()
        return rows, win

    def _check(self, kind: str, q: dict, out) -> str | None:
        if kind.startswith("pip"):
            return None if out == q["expect"] else f"counts {out} != {q['expect']}"
        if kind == "knn":
            lat, lon = self.pts["lat"], self.pts["lon"]
            for qid, qlat, qlon in q["queries"]:
                mine = [r["page_id"] for r in out if r["query_id"] == qid]
                err = _knn_mismatch(mine, q["expect"][qid], self.ids, self.order,
                                    lat, lon, qlat, qlon)
                if err:
                    return f"query {qid}: {err}"
            return None
        if kind == "radius":
            for qid, (strict, loose) in q["expect"].items():
                n = out.get(qid, 0)
                if not len(strict) <= n <= len(loose):
                    return f"query {qid}: {n} points, brute force {len(strict)}"
            return None
        rows, win = out
        if len(rows) != len(q["placement"]) * q["n_groups"]:
            return f"{len(rows)} assignment rows"
        for r in rows:
            if (r["dst_xoff"], r["dst_yoff"]) != q["placement"][r["tile_name"]] or (
                r["mosaic_xsize"], r["mosaic_ysize"]) != q["mosaic"]:
                return f"tile {r['tile_name']} placed at {(r['dst_xoff'], r['dst_yoff'])}"
        if len(win) != q["n_groups"] or any(tuple(w) != q["window"] for w in win):
            return f"clip windows {[tuple(w) for w in win]} != {q['window']}"
        return None

    def _query(self, kind: str, record: bool) -> None:
        q = self.pool[kind][self.pos[kind] % gen.POOL]
        self.pos[kind] += 1
        box = {}

        def run():
            box["out"] = self._run(kind, q)

        ok = self.ctx.op(kind, run, check=lambda: self._check(kind, q, box["out"]),
                         op="assign" if kind == "tile" else kind)
        sp = self.ctx.last_span
        if ok and sp is not None:
            out = box["out"]
            sp["rows"] = (sum(out.values()) if isinstance(out, dict)
                          else len(out) if kind == "knn" else len(out[0]) + len(out[1]))
            if kind == "knn":
                sp["qk"] = len(q["queries"]) * q["k"]
        if ok and record:
            self.sample(kind, self.ctx.last_wall)
            self.sample("all", self.ctx.last_wall)

    def warm(self):
        for kind in gen.KINDS:
            self._query(kind, record=False)

    def step(self):
        kind = self.pool["order"][self.i % len(self.pool["order"])]
        self.i += 1
        self._query(kind, record=True)

    def report(self):
        out = {}
        for name, kinds in (("pip", ("pip", "pip_s2", "pip_h3")), ("knn", ("knn", "radius")),
                            ("tile", ("tile",))):
            xs = [x for k in kinds for x in self.samples.get(k, [])]
            if xs:
                out[f"{name}_p50_s"] = (median(xs), "s")
            if name != "tile":
                t = tail(xs)
                out[f"{name}_tail_s"] = (
                    (t[1], "s", {"percentile": t[0], "samples": t[2]}) if t
                    else None
                )
        for k in gen.KINDS:
            xs = self.samples.get(k, [])
            if xs:
                out[f"{k}.p50_s"] = (median(xs), "s", {"samples": len(xs)})
        allq = self.samples.get("all", [])
        if allq:
            out["queries_per_s"] = (len(allq) / sum(allq), "1/s")
            out["query_p50_s"] = (median(allq), "s")
        return out, ("queries_per_s", "query_p50_s")


_CATALOG_SCHEMA = (
    "engine_path string, gdal_path string, tile_name string, date timestamp, "
    "geo_transform array<double>, projection string, x_size int, y_size int, "
    "crs string, length_unit string, "
    "bands array<struct<source_idx:int, description:string, dtype:string, nodataval:double>>"
)


# ======================================================= text_curate


class TextCurate(Workload):
    """In-memory jobs.curate.run with the substring and DSIR stages on,
    then minhash_lsh_pairs → dup_clusters, then the same files as a stream."""

    name = "text_curate"
    ONE_SHOT = True
    FILES = 3  # corpus files: the stream pass reads one per micro-batch
    SUBSTRING_K = 10
    DSIR_N = 1000

    def inputs(self):
        c = self.ctx
        self.corpus = gen.corpus(c.seed)
        cols = {k: self.corpus[k] for k in ("doc_id", "text", "lang", "source", "n_chars")}
        self.dir = c.work / "corpus"
        _write_parquet(cols, self.dir / "documents.parquet", files=self.FILES)
        self.n_docs = len(cols["doc_id"])
        self.distinct = gen.distinct_texts(cols["doc_id"].tolist(), cols["text"])

    def _job(self, d: Path) -> dict:
        from earth_data_kit_spark.operators.dedup import dup_clusters, minhash_lsh_pairs

        import jobs.curate as curate

        c, tr = self.ctx, self.ctx.tr
        out = {}
        t0 = time.perf_counter()
        with tr.span("op:curate", layer="op", op="curate"):
            out["funnel"] = curate.run(
                c.spark, str(d), substring_k=self.SUBSTRING_K, dsir_n=self.DSIR_N
            )
        out["curate_s"] = time.perf_counter() - t0
        c.guard("curate.run")
        docs = c.spark.read.parquet(str(d / "documents.parquet"))
        with tr.span("op:minhash", layer="op", op="minhash") as sp:
            pairs = minhash_lsh_pairs(docs, threshold=0.5)
            out["minhash"] = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
            c.note_rows(sp, len(out["minhash"]))
        with tr.span("op:clusters", layer="op", op="clusters") as sp:
            cl = dup_clusters(pairs).collect()
            out["clusters"] = {r[0]: r["cluster"] for r in cl}
            c.note_rows(sp, len(cl))
        c.guard("minhash_lsh_pairs+dup_clusters")
        return out

    def step(self):
        c = self.ctx
        box = {}

        def run():
            box["out"] = self._job(self.dir)

        if c.op("job", run, check=lambda: self._check(box["out"])):
            self.sample("docs_per_s", self.n_docs / c.last_wall)
            self.sample("curate_s", box["out"]["curate_s"])
        # ingest-time dedup of the same files as a stream; the JVM twin
        # runs in traced runs only, as the comparator
        for kind in ("dedup", "jvm") if c.tr.enabled else ("dedup",):
            stream_op(self, kind, f"curate_{kind}",
                      stream_starter(c.spark, kind, self.dir / "documents.parquet", 1),
                      lambda rows, k=kind: dedup_mismatch(rows, self.distinct, k == "dedup"))

    def _check(self, out: dict) -> str | None:
        f, exp = out["funnel"], self.corpus["expect"]
        for k, v in exp.items():
            if f.get(k) != v:
                return f"funnel {k} = {f.get(k)}, planted {v}"
        if f.get("after_substring") != exp["after_dedup"]:
            return f"after_substring {f.get('after_substring')} != {exp['after_dedup']}"
        if f.get("after_select") != min(self.DSIR_N, exp["after_dedup"]):
            return f"after_select {f.get('after_select')}"
        floor = (self.corpus["boiler_docs"] - 1) * len(gen.BOILERPLATE.replace(" ", ""))
        if (f.get("substring_removed_chars") or 0) < floor:
            return f"substring removed {f.get('substring_removed_chars')} < boilerplate {floor}"
        for a, b, _j in self.corpus["near_pairs"]:
            if (a, b) not in out["minhash"]:
                return f"near-duplicate ({a}, {b}) missed by minhash"
            if out["clusters"].get(a) != out["clusters"].get(b):
                return f"near-duplicate ({a}, {b}) split across clusters"
        if self.ctx.tr.enabled:
            self.layer["operators.dedup.survivor_ratio"] = f["after_dedup"] / f["after_decontam"]
        return None

    def report(self):
        docs = self.samples.get("docs_per_s", [])
        cur = self.samples.get("curate_s", [])
        rate = stream_rate(self, "dedup")
        return {
            "docs_per_s": (median(docs), "docs/s") if docs else None,
            "curate_run_s": (median(cur), "s") if cur else None,
            "stream_rows_per_s": (rate, "rows/s") if rate else None,
        }, ("docs_per_s", "curate_run_s")


# ====================================================== stream_dedup


DOC_SCHEMA = "doc_id bigint, text string"
EV_SCHEMA = "event_id bigint, ts timestamp, value double"


def stream_starter(spark, kind: str, path: Path, files_per_trigger: int):
    """A function query-name → started streaming query over ``path``."""
    from earth_data_kit_spark.streaming import windows as W

    if kind == "dedup":
        return lambda n: W.exact_dedup_stream(spark, str(path), DOC_SCHEMA, query_name=n,
                                              max_files_per_trigger=files_per_trigger)
    if kind == "jvm":
        return lambda n: W.exact_dedup_stream_jvm(spark, str(path), DOC_SCHEMA, query_name=n,
                                                  max_files_per_trigger=files_per_trigger)
    return lambda n: W.tumbling_agg_stream_append(spark, str(path), EV_SCHEMA, query_name=n,
                                                  max_files_per_trigger=files_per_trigger)


def stream_op(wl: Workload, kind: str, name: str, starter, check, record: bool = True) -> None:
    """One pass: start the query (fresh name, so a fresh checkpoint),
    drain it with processAllAvailable, read the memory sink, check it.
    Rates use the pass's batches after its first one."""
    c = wl.ctx
    box = {}

    def run():
        q = starter(name)
        try:
            q.processAllAvailable()
            progs = [p if isinstance(p, dict) else json.loads(p) for p in q.recentProgress]
        finally:
            q.stop()
        box["progs"] = [p for p in progs if p.get("numInputRows", 0) > 0]
        box["rows"] = c.spark.table(name).collect()
        c.spark.catalog.dropTempView(name)

    ok = c.op(kind, run, check=(lambda: check(box["rows"])) if record else None)
    if not (ok and record):
        return
    progs = box["progs"]
    steady = progs[1:]
    secs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    wl.sample(f"{kind}_rows", sum(p["numInputRows"] for p in steady))
    wl.sample(f"{kind}_secs", sum(secs))
    for x in secs:
        wl.sample(f"{kind}_batch_s", x)
    wl.sample(f"{kind}_batches", len(steady))
    last = (progs[-1].get("stateOperators") or [{}]) if progs else [{}]
    wl.sample(f"{kind}_state_rows", last[0].get("numRowsTotal", 0))
    wl.sample(f"{kind}_state_mem", last[0].get("memoryUsedBytes", 0))
    wl.sample(f"{kind}_commit_s", sum(
        (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1000.0
        for p in progs))


def stream_rate(wl: Workload, kind: str) -> float | None:
    rows, secs = wl.samples.get(f"{kind}_rows"), wl.samples.get(f"{kind}_secs")
    return sum(rows) / sum(secs) if rows and sum(secs) > 0 else None


def dedup_mismatch(rows, distinct: dict, with_counts: bool) -> str | None:
    """Emitted keys must be exactly the distinct texts; with the running
    (min id, count) state, each key's last update must equal them."""
    final = {}
    for r in rows:
        n = r["n_dups"] if with_counts else 0
        if r["text_md5"] not in final or n > final[r["text_md5"]][1]:
            final[r["text_md5"]] = (r["doc_id"], n)
    if set(final) != set(distinct):
        return f"{len(final)} keys emitted, {len(distinct)} distinct texts"
    if with_counts:
        bad = [k for k, v in final.items() if v != distinct[k]]
        if bad:
            return f"key {bad[0]}: {final[bad[0]]} != {distinct[bad[0]]}"
    return None


class StreamDedup(Workload):
    """exact_dedup_stream and tumbling_agg_stream_append drained with
    processAllAvailable over seeded files; a fresh checkpoint per pass,
    the first batch of each pass dropped from the rates."""

    name = "stream_dedup"
    FILES_PER_TRIGGER = 2

    def inputs(self):
        c = self.ctx
        self.s = gen.stream_files(c.seed)
        self.doc_dir, self.ev_dir = c.work / "stream_docs", c.work / "stream_events"
        self.warm_doc, self.warm_ev = c.work / "warm_docs", c.work / "warm_events"
        ev_schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                               ("value", pa.float64())])
        for i, (d, e) in enumerate(zip(self.s["doc_files"], self.s["event_files"])):
            for root, cols, sch in ((self.doc_dir, d, None), (self.ev_dir, e, ev_schema)):
                root.mkdir(parents=True, exist_ok=True)
                pq.write_table(pa.table(cols, schema=sch), root / f"part-{i:04d}.parquet")
            if i < 4:
                for src, dst in ((self.doc_dir, self.warm_doc), (self.ev_dir, self.warm_ev)):
                    dst.mkdir(parents=True, exist_ok=True)
                    shutil.copy(src / f"part-{i:04d}.parquet", dst)
        self.passes = 0

    def _pass(self, kind: str, docs: Path, events: Path, record: bool) -> None:
        self.passes += 1
        path = events if kind == "window" else docs
        stream_op(self, kind, f"bench_{kind}_{self.passes}",
                  stream_starter(self.ctx.spark, kind, path, self.FILES_PER_TRIGGER),
                  lambda rows: self._check(kind, rows), record=record)

    def _check(self, kind: str, rows) -> str | None:
        if kind != "window":
            return dedup_mismatch(rows, self.s["distinct"], kind == "dedup")
        exp = self.s["windows"]
        got = {r["bucket"]: (r["n"], r["total_value"]) for r in rows}
        if len(got) < len(exp) - 2 * self.FILES_PER_TRIGGER:
            return f"{len(got)} windows emitted of {len(exp)}"
        for b, (n, v) in got.items():
            e = exp.get(b)
            if e is None or n != e[0] or not math.isclose(v, e[1], rel_tol=1e-9):
                return f"window {b}: {(n, v)} != {e}"
        return None

    def warm(self):
        for kind in ("dedup", "window"):
            self._pass(kind, self.warm_doc, self.warm_ev, record=False)

    def step(self):
        for kind in ("dedup", "window") + (("jvm",) if self.ctx.tr.enabled else ()):
            self._pass(kind, self.doc_dir, self.ev_dir, record=True)

    def report(self):
        win = self.samples.get("window_batch_s", [])
        out = {
            "stream_rows_per_s": (stream_rate(self, "dedup"), "rows/s")
            if stream_rate(self, "dedup") else None,
            "window_rows_per_s": (stream_rate(self, "window"), "rows/s")
            if stream_rate(self, "window") else None,
            "window_batch_p50_s": (median(win), "s") if win else None,
        }
        return out, ("stream_rows_per_s", "window_batch_p50_s")


WORKLOADS = {w.name: w for w in (GeoPipeline, GeoQueries, TextCurate, StreamDedup)}
