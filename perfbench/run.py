"""The repo benchmark: one command, four workloads, every output checked.

    python3 perfbench/run.py --workload geo_queries --seed 1 --seconds 10 --trace 0

Runs one workload in this process against ``local[nproc]`` with one
closed-loop client, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the spans go to a
JSON-lines file under ``.perfbench_work/``.  Lines before the last one
carry the environment stamp and the workload's named figures.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # noqa: E402 — before any heavy import

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK_ROOT = REPO / ".perfbench_work"

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
OPS = ("pip", "pip_s2", "pip_h3", "knn", "radius", "assign", "minhash", "clusters",
       "exact_dedup", "substring_dedup", "dsir", "packing", "decontam")
CURATE_STAGES = ("load", "quality", "decontam", "dedup", "substring", "select", "pack")
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "sources.rows_scanned": "count", "sources.bytes_scanned": "B",
    "sources.files_read": "count", "sources.scan_s": "s", "sources.prune_ratio": "ratio",
    "functions.py_rows": "count", "functions.py_bytes_sent": "B",
    "functions.py_bytes_returned": "B", "functions.py_run_s": "s", "functions.py_init_s": "s",
    "functions.py_peak_rss_mb": "MB",
    "grid.cover_cells": "count",
    "operators.shuffle_bytes": "B", "operators.spill_bytes": "B",
    "operators.peak_mem_bytes": "B",
    "operators.pip.candidate_ratio": "ratio", "operators.knn.candidate_ratio": "ratio",
    "operators.knn.rounds": "count",
    "operators.dedup.pair_candidate_ratio": "ratio", "operators.dedup.survivor_ratio": "ratio",
    "operators.cached_after_call": "count",
    **{f"operators.{op}.{m}": u for op in OPS
       for m, u in (("call_s", "s"), ("exec_s", "s"), ("rows_out", "count"), ("sql_execs", "count"))},
    "text.geocode_hit_ratio": "ratio",
    **{f"jobs.curate.{s}_s": "s" for s in CURATE_STAGES},
    "plans.commit_s": "s", "plans.bytes_written": "B", "plans.reread_rows": "count",
    "plans.resume_check_s": "s", "plans.resume_skip_ratio": "ratio",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B", "streaming.commit_s": "s",
    "streaming.jvm_twin_rows_per_s": "rows/s",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return time.time() - up + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return T_START


def _cpu_calibration(seconds: float = 0.25) -> int:
    """Single-thread score: loop iterations of fixed integer work."""
    n, x, end = 0, 1, time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 1
    return n


def _source_digest() -> str:
    h = hashlib.sha1()
    for p in sorted(list((REPO / "earth_data_kit_spark").rglob("*.py")) + list((REPO / "jobs").glob("*.py"))):
        h.update(p.relative_to(REPO).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _git_rev() -> str:
    try:
        out = subprocess.run(["git", "-C", str(REPO), "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "n/a (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "n/a (git unavailable)"


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Ctx:
    """What a workload sees: the session, the tracer, the work dir, and
    the operation runner that counts attempts and failures."""

    def __init__(self, args, work: Path, tracer):
        self.seed, self.seconds, self.work, self.tr = args.seed, args.seconds, work, tracer
        self.nproc = _nproc()
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.last_wall = 0.0
        self.last_span = None
        self.cached_max = 0
        self.leaks: dict[str, int] = {}

    def op(self, kind: str, fn, check=None, op: str | None = None) -> bool:
        """Run one operation, time it, check its output.  A raised
        exception or a failed check counts as a failure."""
        self.attempted += 1
        err = None
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"query:{kind}", layer="query", op=op or kind) as sp:
                fn()
            self.last_wall = time.perf_counter() - t0
            self.last_span = sp
            with self.tr.span("check", layer="check"):
                err = check() if check else None
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            err = f"{type(exc).__name__}: {str(exc)[:400]}"
        self.guard(kind)
        if err:
            self.failed += 1
            self.errors.append(f"{kind}: {err}")
            print(f"perfbench: {kind} failed: {err}", file=sys.stderr)
            return False
        return True

    def guard(self, label: str) -> None:
        """Repetition guard: count the persisted RDDs a call left
        registered, then release them so no repetition reuses another's
        work."""
        sc = self.spark.sparkContext
        n = sc._jsc.getPersistentRDDs().size()
        if n:
            self.leaks[label] = max(self.leaks.get(label, 0), n)
            self.cached_max = max(self.cached_max, n)
            self.spark.catalog.clearCache()
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist(True)

    @staticmethod
    def note_rows(span, n: int) -> None:
        if span is not None:
            span["rows"] = n


def _setup_spark(ctx: Ctx, work: Path):
    from earth_data_kit_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    mem = "2g"
    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.checkpointLocation": str(work / "checkpoints"),
        # the heap starts at its maximum: otherwise how far the collector
        # happens to grow it swings peak RSS by gigabytes between runs
        "spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": str(REPO),
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", cpus=ctx.nproc, extra_conf=conf)


def _warm_workers(spark, nproc: int) -> None:
    """Start a Python worker on every core with the engine imported."""
    from pyspark.sql import functions as F

    from earth_data_kit_spark.functions.udfs import token_count_udf

    spark.range(nproc * 64).repartition(nproc * 2).select(
        token_count_udf(F.col("id").cast("string")).alias("n")
    ).agg(F.sum("n")).collect()


def _layer_metrics(tr, wl, ctx: Ctx, extra: dict) -> tuple[dict, dict]:
    """Per-layer values from the traced spans, the workload's own
    counters and ``extra``; returns (values, n/a reasons)."""
    from stats import median as med
    from spans import JOIN_NODES, PY_NODES, curate_stage_of

    spans = tr.spans
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s.get("parent") is not None:
            s = by_id[s["parent"]]
            yield s

    v = {k: 0.0 for k in PER_LAYER}
    na: dict[str, str] = {}
    v.update(extra)
    sql = [s for s in spans if s["name"] == "sql" and s["end"]]
    py_init = 0.0
    for s in sql:
        for nd in s["nodes"]:
            m, name = nd["metrics"], nd["name"]
            g = lambda k: m.get(k) or 0.0  # noqa: E731
            if name.startswith("Scan parquet"):
                v["sources.rows_scanned"] += g("number of output rows")
                v["sources.bytes_scanned"] += g("size of files read")
                v["sources.files_read"] += g("number of files read")
                v["sources.scan_s"] += g("scan time")
            if any(name.startswith(p) for p in PY_NODES):
                v["functions.py_rows"] += g("number of output rows")
                v["functions.py_bytes_sent"] += g("data sent to Python workers")
                v["functions.py_bytes_returned"] += g("data returned from Python workers")
                v["functions.py_run_s"] += g("time to run Python workers")
                py_init += g("time to start Python workers") + g("time to initialize Python workers")
            v["operators.shuffle_bytes"] += g("shuffle bytes written")
            v["operators.spill_bytes"] += g("spill size")
            v["operators.peak_mem_bytes"] = max(v["operators.peak_mem_bytes"], g("peak memory"))
    v["functions.py_init_s"] = py_init

    # per-operator: the outermost span carrying each op, and its subtree
    tops: dict[str, list] = {}
    for s in spans:
        op = s.get("op")
        if op and not any(a.get("op") == op for a in ancestors(s)):
            tops.setdefault(op, []).append(s)
    subtree_sql: dict[str, list] = {}
    for op, roots in tops.items():
        ids = {r["id"] for r in roots}
        subtree_sql[op] = [s for s in sql if any(a["id"] in ids for a in ancestors(s))]
    for op in OPS:
        execs = subtree_sql.get(op, [])
        v[f"operators.{op}.exec_s"] = sum(s["end"] - s["start"] for s in execs)
        v[f"operators.{op}.sql_execs"] = len(execs)
        v[f"operators.{op}.rows_out"] = sum(r.get("rows", 0) for r in tops.get(op, []))
        calls = [s for s in spans if s.get("layer") == "operators" and s.get("op") == op
                 and not any(a.get("layer") == "operators" and a.get("op") == op
                             for a in ancestors(s))]
        v[f"operators.{op}.call_s"] = sum(s["end"] - s["start"] for s in calls if s["end"])
        if not tops.get(op):
            for m in ("call_s", "exec_s", "rows_out", "sql_execs"):
                na[f"operators.{op}.{m}"] = f"{wl.name} does not call {op}"
        elif not any(r.get("rows") for r in tops[op]):
            na[f"operators.{op}.rows_out"] = "its result is consumed inside a job, not by the benchmark"

    def join_rows(execs):
        return sum((nd["metrics"].get("number of output rows") or 0) for s in execs
                   for nd in s["nodes"] if nd["name"].startswith(JOIN_NODES))

    pip_ops = [op for op in ("pip", "pip_s2", "pip_h3") if op in tops]
    refined = sum(r.get("rows", 0) for op in pip_ops for r in tops[op])
    if refined:
        v["operators.pip.candidate_ratio"] = join_rows(
            [s for op in pip_ops for s in subtree_sql[op]]) / refined
        bc = sum((nd["metrics"].get("number of output rows") or 0)
                 for op in pip_ops for s in subtree_sql[op] for nd in s["nodes"]
                 if nd["name"].startswith("BroadcastExchange"))
        v["grid.cover_cells"] = bc / sum(len(tops[op]) for op in pip_ops)
    else:
        na["operators.pip.candidate_ratio"] = na["grid.cover_cells"] = \
            "no PIP result is consumed by the benchmark in this workload"
    if "knn" in tops:
        qk = sum(r.get("qk", 0) for r in tops["knn"])
        calls = [s for s in spans if s.get("layer") == "operators" and s.get("op") == "knn"]
        rounds = [sum(1 for c in sql if any(a["id"] == s["id"] for a in ancestors(c)))
                  for s in calls]
        v["operators.knn.rounds"] = sum(rounds) / max(1, len(rounds))
        if qk:
            last = [max((c for c in subtree_sql["knn"]
                         if any(a["id"] == r["id"] for a in ancestors(c))),
                        key=lambda c: c["end"], default=None) for r in tops["knn"]]
            v["operators.knn.candidate_ratio"] = join_rows([c for c in last if c]) / qk
        else:
            na["operators.knn.candidate_ratio"] = "kNN output is consumed inside a stage commit"
    else:
        na["operators.knn.candidate_ratio"] = na["operators.knn.rounds"] = f"{wl.name} runs no kNN"
    if "minhash" in tops:
        out = sum(r.get("rows", 0) for r in tops["minhash"])
        v["operators.dedup.pair_candidate_ratio"] = join_rows(subtree_sql["minhash"]) / max(1, out)
    else:
        na["operators.dedup.pair_candidate_ratio"] = f"{wl.name} runs no pair dedup"

    # scan pruning: rows scanned ÷ rows stored, per scan of the index
    if wl.name == "geo_queries":
        scans = [nd for op, ex in subtree_sql.items() for s in ex for nd in s["nodes"]
                 if nd["name"].startswith("Scan parquet")]
        if scans:
            v["sources.prune_ratio"] = sum(
                nd["metrics"].get("number of output rows") or 0 for nd in scans
            ) / (len(scans) * wl.n_points)
    else:
        na["sources.prune_ratio"] = "only geo_queries reads a stored index"

    # jobs.curate stages: executions under curate.run, by the job line
    # whose action started them
    run_spans = [s for s in spans if s.get("layer") == "jobs"]
    if run_spans:
        rid = {s["id"] for s in run_spans}
        stage_s = {s: 0.0 for s in CURATE_STAGES}
        keys = (("quality", "quality"), ("decontam", "decontam"), ("exact dedup", "dedup"),
                ("substring", "substring"), ("dsir", "select"), ("packing", "pack"))
        for s in sql:
            anc = list(ancestors(s))
            if not any(a["id"] in rid for a in anc):
                continue
            # the outermost call or action made from jobs/curate.py itself
            own = [a for a in anc if (a.get("site_file") or "").endswith("jobs/curate.py")]
            head = curate_stage_of(own[-1]["site_file"], own[-1]["site_line"]) if own else "load"
            name = next((n for k, n in keys if k in head), "load")
            stage_s[name] += s["end"] - s["start"]
        for k, x in stage_s.items():
            v[f"jobs.curate.{k}_s"] = x
    else:
        for k in CURATE_STAGES:
            na[f"jobs.curate.{k}_s"] = f"{wl.name} does not run jobs/curate.py"

    # plans: commit time, read-back rows, resume checks
    commits = [s for s in spans if s["name"] == "plans:commit_stage" and s["end"]]
    if commits:
        v["plans.commit_s"] = sum(s["end"] - s["start"] for s in commits)
        for c in commits:
            ex = sorted((s for s in sql if any(a["id"] == c["id"] for a in ancestors(s))),
                        key=lambda s: s["start"])
            v["plans.reread_rows"] += sum(
                nd["metrics"].get("number of output rows") or 0
                for s in ex[1:] for nd in s["nodes"]
                if nd["name"].startswith("Scan parquet") and "/data" in nd["desc"])
        resumes = [s for s in spans if s["name"] == "query:resume"]
        chk = 0.0
        for r in resumes:
            for s in spans:
                if s["name"] in ("plans:resume_filter", "action:isEmpty") and \
                        any(a["id"] == r["id"] for a in ancestors(s)):
                    chk += s["end"] - s["start"]
        v["plans.resume_check_s"] = chk / max(1, len(resumes))
    else:
        for k in ("plans.commit_s", "plans.bytes_written", "plans.reread_rows",
                  "plans.resume_check_s", "plans.resume_skip_ratio"):
            na[k] = f"{wl.name} commits nothing through plans/lineage.py"

    smp = wl.samples
    if smp.get("dedup_batches"):
        from workloads import stream_rate

        v["streaming.batches"] = sum(smp.get("dedup_batches", [])) + sum(smp.get("window_batches", []))
        bs = smp.get("dedup_batch_s", []) + smp.get("window_batch_s", [])
        v["streaming.batch_p50_s"] = med(bs) if bs else 0.0
        v["streaming.state_rows"] = max(smp.get("dedup_state_rows", [0]))
        v["streaming.state_mem_bytes"] = max(smp.get("dedup_state_mem", [0]))
        v["streaming.commit_s"] = sum(smp.get("dedup_commit_s", []) + smp.get("window_commit_s", []))
        v["streaming.jvm_twin_rows_per_s"] = stream_rate(wl, "jvm") or 0.0
    else:
        for k in PER_LAYER:
            if k.startswith("streaming."):
                na[k] = f"{wl.name} runs no stream"
    for k, x in wl.layer.items():
        v[k] = x
    for k in ("text.geocode_hit_ratio", "operators.dedup.survivor_ratio", "plans.resume_skip_ratio",
              "plans.bytes_written"):
        if k not in wl.layer and k not in na:
            na[k] = f"not produced by {wl.name}"
    return v, na


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the benchmark measures the engine in this checkout: without it,
    # fail fast and print no result
    if not (REPO / "earth_data_kit_spark" / "__init__.py").exists() or not (REPO / "jobs").is_dir():
        _fail(f"engine sources not found under {REPO}")
    sys.path[:0] = [str(HERE), str(REPO)]
    # Python workers import the engine from the repo root, whatever the
    # working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from spans import RssSampler, Tracer  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = WORK_ROOT / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()
    t_proc = _process_start()
    tr = Tracer(enabled=bool(args.trace), run_id=run_id)
    ctx = Ctx(args, work, tr)
    wl = WORKLOADS[args.workload](ctx)
    sampler = None
    root = tr.span("run", layer="run")
    root_span = root.__enter__()
    if root_span is not None:
        root_span["start"] = t_proc
    try:
        with tr.span("inputs", layer="setup"):
            t0 = time.perf_counter()
            wl.inputs()
            gen_s = time.perf_counter() - t0
        with tr.span("session", layer="session"):
            spark = _setup_spark(ctx, work)
        ctx.spark = spark
        tr.install(spark)
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        start_s = time.time() - t_proc - gen_s
        t0 = time.perf_counter()
        with tr.span("warm_workers", layer="session"):
            _warm_workers(spark, ctx.nproc)
        warm_s = time.perf_counter() - t0
        builds = []
        for _ in range(getattr(wl, "BUILDS", 1)):
            t0 = time.perf_counter()
            with tr.span("build", layer="setup"):
                wl.build()
            builds.append(time.perf_counter() - t0)
        from stats import median  # noqa: E402

        setup_s = start_s + warm_s + median(builds)
        with tr.span("warm", layer="setup"):
            wl.warm()
        ctx.guard("warm")

        # the measured window: repetitions until --seconds have passed,
        # or the single job of a one-shot workload
        t_meas = time.perf_counter()
        with tr.span("measure", layer="measure"):
            n = 0
            while n == 0 or (not wl.ONE_SHOT and time.perf_counter() - t_meas < args.seconds):
                wl.step()
                n += 1
        measured_s = time.perf_counter() - t_meas

        named, (thr_name, op_name) = wl.report()
        jvm_rss, py_rss = (x / (1 << 20) for x in sampler.stop())
        sampler = None
        thr, opl = named.get(thr_name), named.get(op_name)
        named["setup_s"] = (setup_s, "s")
        named["peak_rss_mb"] = (jvm_rss, "MB")
        named["python_rss_mb"] = (py_rss, "MB")
        named["error_rate"] = (ctx.failed / max(1, ctx.attempted), "ratio")
        correct = ctx.failed == 0 and thr is not None and opl is not None
        env = {
            "nproc": ctx.nproc, "mem_total_mb": round(_mem_total_mb()),
            "pyspark": spark.version, "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "git": _git_rev(), "source": _source_digest(),
            "seed": args.seed, "workload": args.workload, "master": spark.sparkContext.master,
            "cpu_calibration": _cpu_calibration(), "pythonpath": str(REPO),
            "measured_s": round(measured_s, 3), "setup_builds_s": [round(b, 3) for b in builds],
            "session_start_s": round(start_s, 3), "worker_warm_s": round(warm_s, 3),
        }
        print("# env " + json.dumps(env))
        print("# report " + json.dumps({
            k: ({"value": x[0], "unit": x[1], **(x[2] if len(x) > 2 else {})} if x else "n/a")
            for k, x in sorted(named.items())}))
        if ctx.leaks:
            print("# cached_after_call " + json.dumps(ctx.leaks))
        if ctx.errors:
            print("# errors " + json.dumps(ctx.errors[:20]))

        root.__exit__(None, None, None)
        if args.trace:
            kids = [s for s in tr.spans if s.get("parent") == root_span["id"] and s["end"]]
            extra = {
                "session.start_s": start_s, "session.warm_s": warm_s,
                "operators.cached_after_call": ctx.cached_max,
                "functions.py_peak_rss_mb": py_rss,
                "trace.overhead_s": tr.overhead_s,
                "trace.coverage": sum(s["end"] - s["start"] for s in kids) / (
                    root_span["end"] - root_span["start"]),
            }
            values, na = _layer_metrics(tr, wl, ctx, extra)
            path = WORK_ROOT / f"trace-{run_id}.jsonl"
            tr.write(path)
            print(f"# trace {path.relative_to(REPO)} spans={len(tr.spans)}")
            print("# n/a " + json.dumps(na, sort_keys=True))
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {"setup_s": setup_s, "throughput_per_s": thr[0] if thr else 0.0,
                      "op_p50_s": opl[0] if opl else 0.0, "peak_rss_mb": jvm_rss}
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        result = {"correct": bool(correct), "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
    finally:
        if sampler is not None:
            sampler.stop()
        if ctx.spark is not None:
            tr.uninstall()
            ctx.spark.stop()
            _stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def _stop_gateway() -> None:
    """Stop the driver JVM this process launched and wait for it."""
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    except Exception:  # noqa: BLE001
        pass


if __name__ == "__main__":
    main()
