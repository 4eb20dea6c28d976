"""The benchmark of record for the bigdata_hits_spark package.

Runs one workload as a closed loop with a single client on
``local[<nproc>]``: the driver thread issues the next request when the
previous one has completed.  A request is one public call into a layer
of the package plus the action that consumes its result through the
noop sink (``workloads.py`` lists them).  Run from the repository root:

    python3 perfbench/run.py --workload {fixpoint,relational} \\
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke [--workload W]   # sf0.001, one cycle each

A run:

1. makes its input tables (``datagen.py``, cached under
   ``perfbench/.work/``) — not part of any figure;
2. sets up, timed as ``setup_s``: session start, input load,
   graph/memo preparation, then one warm-up pass of every distinct
   request;
3. times whole cycles of the seed-ordered requests until ``--seconds``
   have passed and at least ``MIN_CYCLES`` cycles are done; a request that fails, or that the memo guard flags (a
   result memo answering instead of the algorithm, see
   ``spans.memo_problem``), counts as failed;
4. with ``--trace 1``, times the same loop again with spans on: every
   call and result action runs under its own job group, and Spark's job
   and stage records for it are read from the status store after the
   request (outside its latency), giving the per-layer figures;
5. records live JVM heap after full GCs;
6. checks the output of each distinct request's last timed execution
   against its DuckDB oracle, or the stream's against the batch
   operator (``check.py``);
7. prints a detail line (run fingerprint, per-request medians, checks)
   followed by the result line: ``{"correct", "attempted", "failed",
   "metrics"}``.

Every file it writes stays under ``perfbench/.work/``; the Spark JVM is
stopped and waited for before exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "bigdata_hits_spark"

#: Input scale.  sf0.01 is the scale the package's oracle gate runs at;
#: every workload here is bound by per-job driver latency at sf0.01 and
#: sf0.1 alike, and sf0.1 would not fit the run budget.
SCALE = 0.01
SMOKE_SCALE = 0.001

#: Timed cycles a run makes at least.  Every request is timed at least
#: twice, so the median and the tail rest on repeats, not on one
#: execution each: the median of a mix of different requests moves with
#: the noise of whichever request lands in the middle.  A host slower
#: than usual still yields the same sample count (and so the same
#: percentile rungs) as a fast one.
MIN_CYCLES = 2

#: End-to-end metrics (tracing off) and their units.
END_TO_END = {"latency_p50_s": "s", "latency_tail_s": "s", "requests_per_s": "1/s",
              "setup_s": "s", "live_heap_mb": "MB"}

#: Layers whose public call itself runs jobs get ``call_*`` figures;
#: every request layer gets ``result_*`` figures.
CALL_LAYERS = ("ranking", "components", "graphalgs", "streaming")
RESULT_LAYERS = ("ranking", "components", "graphalgs", "relops", "dedup", "streaming")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="fixpoint or relational (workloads.py)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001, one timed cycle, every workload unless --workload is given")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required (or pass --smoke)")
    return args


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in reporting order."""
    from spans import SPAN_METRICS

    names = [("session.start_s", "s"), ("sources.load_s", "s"), ("sources.prepare_s", "s"),
             ("trace.overhead_ratio", "ratio")]
    for kind, layers in (("call", CALL_LAYERS), ("result", RESULT_LAYERS)):
        names += [(f"{layer}.{kind}_{m}", u) for layer in layers for m, u in SPAN_METRICS]
    return names


#: JVM options that shorten the JVM's warm-up, so the timed cycles run
#: nearer the warm steady state a long-lived session sees: the heap
#: starts at 2 GB instead of growing from 1/64 of RAM through many early
#: collections (first HITS call measured 11.7 s without, 6.8 s with), and
#: the JIT compiles hot methods after a tenth of its usual invocation
#: counts (the same compilers, reached sooner).
JVM_WARMUP_OPTS = "-Xms2g -XX:CompileThresholdScaling=0.1"


def _env(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside the work
    dir (``PerfDisableSharedMem``: no hsperfdata file in the system temp
    dir), and pass :data:`JVM_WARMUP_OPTS`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem '
        f'{JVM_WARMUP_OPTS}" pyspark-shell')
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _host_ram_gb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 2**20, 1)
    except OSError:
        pass
    return 0.0


def _source_digest(top: str) -> str:
    """sha256 over the Python sources under ``top``, so records of
    different code are never paired even where no git metadata exists."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d not in ("__pycache__", ".work"))
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return (r.stdout.strip() or None) if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def fingerprint(spark, args, sf: float, nproc: int) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "driver_heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "host_ram_gb": _host_ram_gb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(),
        "source_digest": _source_digest(os.path.join(ROOT, PACKAGE)),
        "harness_digest": _source_digest(HERE),
        "seed": args.seed,
        "scale_factor": sf,
    }


class Loop:
    """Runs requests one after another and keeps what each produced."""

    def __init__(self, spark, store, cores: int):
        self.store, self.cores = store, cores
        self.sc = spark.sparkContext
        self.spans = []
        self.last_frame = {}
        self.n = 0
        self.bookkeeping_s = 0.0  # input staging, memo guard and tracing: outside every latency

    def request(self, req, traced: bool) -> dict:
        """Run one request; returns its record (latency, jobs, error,
        memo-guard verdict)."""
        import spans as S
        from pyspark import StorageLevel
        from workloads import as_frame, returned_frames

        self.n += 1
        rid = f"r{self.n}"
        if req.before:
            p = time.perf_counter()
            req.before()
            self.bookkeeping_s += time.perf_counter() - p
        rec = {"name": req.name, "layer": req.layer, "latency": None, "jobs": 0, "error": None,
               "memo": None}
        j0 = self.store.jobs_submitted()
        t0 = time.time()
        p0 = time.perf_counter()
        t1 = j1 = None
        try:
            if traced:
                self.sc.setJobGroup(f"{rid}:call", req.name)
            out = req.call()
            t1 = time.time()
            j1 = self.store.jobs_submitted()
            returned = returned_frames(out)
            frame = as_frame(out)
            if traced:
                self.sc.setJobGroup(f"{rid}:result", req.name)
            frame.write.format("noop").mode("overwrite").save()
            rec["latency"] = time.perf_counter() - p0
            self.last_frame[req.name] = frame
        except Exception as e:  # a failed request is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        t2 = time.time()
        j2 = self.store.jobs_submitted()
        rec["jobs"] = j2 - j0
        p2 = time.perf_counter()
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._trace(req, rid, t0, t1 or t2, t2, j0)
        if rec["error"] is None:
            result_jobs, persisted = [], False
            if not req.eager:
                self.store.drain()
                result_jobs = self.store.jobs(j1, j2)
                persisted = any(f.storageLevel != StorageLevel.NONE for f in returned)
            rec["memo"] = S.memo_problem(req.eager, j1 - j0, result_jobs, persisted)
        self.bookkeeping_s += time.perf_counter() - p2
        return rec

    def _trace(self, req, rid, t0, t1, t2, j0) -> None:
        import spans as S

        self.store.drain()
        jobs = self.store.jobs(j0, self.store.jobs_submitted())
        root = S.Span("client.request", t0, t2, rid, counts={"request": req.name})
        call = S.Span(f"{req.layer}.call", t0, t1, rid, root.name, group=f"{rid}:call")
        result = S.Span(f"{req.layer}.result", t1, t2, rid, root.name, group=f"{rid}:result")
        stages = self.store.stages([s for j in jobs for s in j.stage_ids])
        for span, js in zip((call, result), S.attribute([call, result], jobs).values()):
            span.jobs = [j.job_id for j in js]
            span.counts = S.rollup(span, js, stages, self.cores)
        self.spans += [root, call, result]

    def cycles(self, reqs, seconds: float, traced: bool,
               min_cycles: int = 1) -> tuple[list[dict], float]:
        """Whole cycles of ``reqs`` until ``seconds`` have passed and at
        least ``min_cycles`` are done; returns the records and the wall
        time spent in requests (bookkeeping between requests excluded)."""
        recs = []
        p0, b0 = time.perf_counter(), self.bookkeeping_s
        while True:
            recs += [self.request(r, traced) for r in reqs]
            wall = time.perf_counter() - p0 - (self.bookkeeping_s - b0)
            if wall >= seconds and len(recs) >= min_cycles * len(reqs):
                return recs, wall


def heap_readings_mb(spark) -> list[float]:
    """JVM heap in use after full GCs, six readings a fifth of a second
    apart; ``live_heap_mb`` is the least.  JVM objects held through py4j
    proxies are released only when Python collects the proxies, and
    Spark's ContextCleaner removes what a GC found unreachable only
    afterwards, on its own thread (measured: 522, 451, then 130 MB on
    three GCs; once, three equal readings before the drop)."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(6):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    return readings


def check_outputs(loop: Loop, reqs, con, cache_dir: str) -> dict[str, list[str]]:
    """Problems per distinct request (empty list: output matches)."""
    import check

    out = {}
    for req in reqs:
        try:
            frame = loop.last_frame.get(req.name)
            if frame is None:
                raise RuntimeError("no timed execution succeeded")
            got = frame.toPandas()
            if req.oracle is None:
                want = None
            elif isinstance(req.oracle, str):
                want = check.expected_frame(req.oracle, lambda: con.execute(req.oracle).df(),
                                            cache_dir)
            else:
                want = check.expected_frame(req.name, lambda: req.oracle().toPandas(), cache_dir)
            out[req.name] = check.compare(got, want)
        except Exception as e:
            out[req.name] = [f"check error: {type(e).__name__}: {e}".splitlines()[0][:300]]
        for p in out[req.name]:
            print(f"CHECK {req.name}: {p}", file=sys.stderr)
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _by_name(recs) -> dict[str, list[float]]:
    by = {}
    for r in recs:
        if r["latency"] is not None:
            by.setdefault(r["name"], []).append(r["latency"])
    return by


def layer_metrics(spans_, names) -> dict[str, float]:
    """Mean per-span figure for every ``<layer>.<kind>_<metric>`` name
    (0.0 where the workload has no span of that layer and kind).  A mean,
    not a median: a layer's spans mix frequent light requests with rare
    heavy ones, and a median would hide the heavy ones' work."""
    by = {}
    for s in spans_:
        by.setdefault(s.name, []).append(s.counts)
    out = {}
    for name, _ in names:
        layer, rest = name.split(".", 1)
        kind, _, metric = rest.partition("_")
        rows = by.get(f"{layer}.{kind}")
        found = rows is not None and metric in rows[0]
        out[name] = float(statistics.mean(r[metric] for r in rows)) if found else 0.0
    return out


def run_workload(workload: str, args, sf: float, seconds: float) -> dict:
    """One benchmark run of ``workload``; returns the result record."""
    import datagen

    nproc = len(os.sched_getaffinity(0))
    data = datagen.ensure(os.path.join(WORK, "data", f"sf{sf:g}"), sf)
    setup0 = time.perf_counter()
    from bigdata_hits_spark.session import get_spark
    from bigdata_hits_spark.sources.readers import load_table

    import check
    import spans as S
    import workloads as W
    from stats import percentile, tail

    p = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - p
    try:
        store = S.StatusStore(spark)
        p = time.perf_counter()
        for t in W.INPUTS[workload]:
            load_table(spark, data, t).columns
        load_s = time.perf_counter() - p
        p = time.perf_counter()
        reqs = W.build(workload, spark, data, args.seed, WORK)
        build_s = time.perf_counter() - p
        loop = Loop(spark, store, nproc)
        warm = {r["name"]: r for r in (loop.request(q, False) for q in reqs)}
        t_setup_end = time.perf_counter()
        setup_s = t_setup_end - setup0

        mix = W.cycle(reqs, args.seed)
        least = 1 if args.smoke else MIN_CYCLES
        recs, wall = loop.cycles(mix, seconds, traced=False, min_cycles=least)
        traced_recs = []
        if args.trace:
            traced_recs, _ = loop.cycles(mix, seconds, traced=True, min_cycles=least)
        t_timed = time.perf_counter()
        readings = heap_readings_mb(spark)
        heap = min(readings)
        t_heap = time.perf_counter()
        con = check.connect(data, datagen.TABLES)
        problems = check_outputs(loop, reqs, con, os.path.join(data, "oracle"))
        t_check = time.perf_counter()
        fp = fingerprint(spark, args, sf, nproc)
    finally:
        shutdown(spark)
    phases = {"pre_setup": setup0 - T0, "setup_total": t_setup_end - setup0,
              "timed": t_timed - t_setup_end, "heap": t_heap - t_timed, "check": t_check - t_heap,
              "shutdown": time.perf_counter() - t_check}

    measured = recs + traced_recs
    wrong = {n for n, p in problems.items() if p}
    failed = 0
    for r in measured:
        if r["memo"]:
            print(f"MEMO {r['name']}: {r['memo']}", file=sys.stderr)
        failed += r["error"] is not None or r["memo"] is not None or r["name"] in wrong
    lat = [r["latency"] for r in recs if r["latency"] is not None and r["memo"] is None]
    if not lat:
        raise RuntimeError("no timed request succeeded")
    p50 = percentile(lat, 50)
    tail_p, tail_v = tail(lat)
    timed = _by_name(recs)
    timed_med = {k: statistics.median(v) for k, v in timed.items()}
    detail = {
        "workload": workload, "fingerprint": fp, "seconds": seconds,
        "n_requests": len(lat), "cycles": len(recs) // len(mix), "timed_wall_s": wall,
        "tail_percentile": tail_p, "failed_ratio": failed / len(measured),
        "session_start_s": session_s, "load_s": load_s, "build_s": build_s,
        "warmup_s": {n: r["latency"] for n, r in warm.items()},
        "latencies_s": timed,
        "jobs": {r["name"]: r["jobs"] for r in recs},
        "memo": {r["name"]: r["memo"] for r in measured if r["memo"]},
        "order": [q.name for q in mix],
        "checks": {n: (p or "ok") for n, p in problems.items()},
        "heap_readings_mb": readings,
        "phases": phases,
    }
    if args.trace:
        names = per_layer_names()
        p50_traced = percentile([r["latency"] for r in traced_recs if r["latency"] is not None], 50)
        metrics = layer_metrics(loop.spans, names)
        metrics["session.start_s"] = session_s
        metrics["sources.load_s"] = load_s
        metrics["sources.prepare_s"] = sum(
            warm[n]["latency"] - timed_med[n] for n in timed_med if warm[n]["latency"] is not None)
        metrics["trace.overhead_ratio"] = p50_traced / p50
        units = dict(names)
        os.makedirs(WORK, exist_ok=True)
        dump = os.path.join(WORK, f"spans_{workload}_seed{args.seed}.jsonl")
        S.dump(dump, loop.spans)
        detail["span_dump"] = os.path.relpath(dump, ROOT)
    else:
        metrics = {
            "latency_p50_s": p50, "latency_tail_s": tail_v,
            "requests_per_s": len(lat) / wall, "setup_s": setup_s, "live_heap_mb": heap,
        }
        units = END_TO_END
    return {
        "detail": detail,
        "result": {
            "correct": not wrong and failed == 0,
            "attempted": len(measured),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    _env(WORK)
    from workloads import WORKLOADS

    if args.workload and args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {WORKLOADS}",
              file=sys.stderr)
        return 2
    workloads = [args.workload] if args.workload else list(WORKLOADS)
    ok = True
    for w in workloads:
        sf = SMOKE_SCALE if args.smoke else SCALE
        out = run_workload(w, args, sf, 0.0 if args.smoke else args.seconds)
        with open(os.path.join(WORK, f"last_{w}.json"), "w") as fh:
            json.dump(out, fh, indent=1, default=str)
        print(json.dumps({"detail": out["detail"]}, default=str))
        print(json.dumps(out["result"]), flush=True)
        ok &= out["result"]["correct"]
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    return 0 if ok or not args.smoke else 1


if __name__ == "__main__":
    sys.exit(main())
