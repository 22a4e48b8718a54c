"""Benchmark harness for the overturelink Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (closed loop, one client, one
process, Spark ``local[4]``; each op starts after the previous one ends):

- ``country_export``: direct-tier country extracts (read, divisions or
  bbox clip, normalize, geoparquet / gpkg / geojsonseq sink), then a
  ``cache_country`` refresh, tier-1 cached reads and
  ``publish_multi_layer`` in initial then overwrite mode.
- ``dedup_lifecycle``: ``dedup_lifecycle_probe`` cold then warm, then
  ``dedup_clusters`` and ``graph_pagerank_dupes``.

Inputs are generated from the seed (``release.py``, ``corpus.py``) into
``.perfbench/data`` once per seed and generator version, in a separate
process. Each run works under a fresh ``.perfbench/runs/<pid>`` (Spark
warehouse, local dirs, outputs, cache, event log) that is removed at the
end. After the session set-ups, the workload runs its op sequence once
on small priming inputs (counted in ``setup_s``); the measured
sequence then runs a fixed number of times derived from ``--seconds``
(``NOMINAL_S``). Outputs are checked after each sequence, outside the
timed region, against expectations computed without Spark.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
sequences plainly and then again with job groups, the Spark event log and
per-layer probe jobs, and prints the per-layer metrics. The last stdout
line is the result object; the lines before it carry the full metric
report (perfbench/DESIGN.json lists it) and box context.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CPUS = 4
SETUPS = 3
DRIVER_MEM = "2g"
#: Nominal seconds of one op sequence per workload. A run repeats the
#: sequence round(--seconds / nominal) times (at least once): a fixed
#: count, so every run of a workload does the same work.
NOMINAL_S = {"country_export": 16.0, "dedup_lifecycle": 20.0}
WORKLOADS = tuple(NOMINAL_S)
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB", "features_per_s": "1/s"}
#: the files each kind of input is generated from (their hash keys the cache)
GENERATORS = {"release": ("release.py", "workloads.py"), "corpus": ("corpus.py",)}


# -- inputs ----------------------------------------------------------------------

def _prepare(kind: str, seed: int, dest: str) -> None:
    """Generate one seed's inputs into ``dest`` (run in a child process, so
    generation memory never counts toward the run's peak RSS)."""
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if kind == "release":
        import pickle

        import release
        import workloads

        countries = release.write_release(os.path.join(tmp, "release"), seed)
        ex = release.Expectations(os.path.join(tmp, "release"), countries, workloads.release_needs())
        expected = workloads.release_expectations(ex)
        for c in countries:
            for k in ("ring", "inside", "outside"):
                c.pop(k)
        with open(os.path.join(tmp, "inputs.pkl"), "wb") as f:
            pickle.dump({"countries": countries, "expected": expected}, f)
    else:
        import corpus

        corpus.write_corpus(os.path.join(tmp, "sf"), seed)
    os.rename(tmp, dest)


def inputs(workload: str, seed: int) -> dict:
    """The workload's inputs for ``seed``, generated on first use."""
    kind = "corpus" if workload == "dedup_lifecycle" else "release"
    h = hashlib.sha256()
    for f in GENERATORS[kind]:
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    dest = os.path.join(WORK, "data", f"{kind}-seed{seed}-{h.hexdigest()[:12]}")
    if not os.path.isdir(dest):
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        code = f"import sys; sys.path[:0] = [{ROOT!r}, {HERE!r}]; import run; run._prepare({kind!r}, {seed}, {dest!r})"
        # the generator's own prints go to stderr: stdout ends with the result
        subprocess.run([sys.executable, "-c", code], check=True, timeout=600, stdout=sys.stderr)
    if kind == "corpus":
        import corpus

        sf = os.path.join(dest, "sf")
        return {"sf_dir": sf, "prime_sf_dir": os.path.join(sf, "prime"), "oracle": corpus.load_oracle(sf)}
    import pickle

    with open(os.path.join(dest, "inputs.pkl"), "rb") as f:
        data = pickle.load(f)
    data["release"] = os.path.join(dest, "release")
    return data


# -- session ------------------------------------------------------------------------

def session_conf(run_dir: str, event_log: str | None) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": tmp,
        # a fixed, pre-touched heap keeps the JVM's resident size a property
        # of its off-heap use rather than of garbage-collection timing
        "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_log})
    return conf


def warm_up(spark) -> None:
    """One small job on every core. Python workers and the workload's own
    code paths start in the priming sequence, which setup_s also counts."""
    spark.range(0, 4096, numPartitions=CPUS).selectExpr("sum(id)").collect()


def start_session(conf: dict):
    from overturelink_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown_jvm() -> None:
    """Close the JVM's stdin pipe, which makes it exit, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def calibration(spark) -> dict:
    """``bench.py``'s fixed box-calibration pair, measured once per
    checkout and cached: one DuckDB and one Spark job, best of two."""
    path = os.path.join(WORK, "calibration.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    def best2(fn):
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 4)

    con = duckdb.connect()
    cal = {
        "duckdb_s": best2(lambda: con.execute("SELECT sum(r*r) FROM range(100000000) t(r)").fetchall()),
        "spark_s": best2(
            lambda: spark.range(2_000_000_000).selectExpr("bit_xor(xxhash64(id)) AS s").write.format("noop").mode("overwrite").save()
        ),
    }
    con.close()
    with open(path, "w") as f:
        json.dump(cal, f)
    return cal


# -- phases ----------------------------------------------------------------------------

class Phase:
    """Runs a workload's op sequence and keeps its timings and failures."""

    def __init__(self):
        self.walls: list[float] = []
        self.op_s: list[float] = []
        self.op_names: list[str] = []
        self.features = 0
        self.attempted = 0
        self.failures: list[str] = []

    def prime(self, make_ops) -> float:
        """Run the sequence once on the priming inputs, unmeasured and
        unchecked; returns its wall time."""
        t0 = time.perf_counter()
        for name, fn in make_ops():
            self.attempted += 1
            try:
                fn()
            except Exception:
                self.failures.append(f"prime {name}: {traceback.format_exc(limit=4)}")
        return time.perf_counter() - t0

    def run(self, make_ops, tracer, iterations: int) -> None:
        for _ in range(iterations):
            ops = make_ops()
            checks = []
            t0, p0 = time.perf_counter(), tracer.probe_s()
            for name, fn in ops:
                self.attempted += 1
                a, pa = time.perf_counter(), tracer.probe_s()
                try:
                    n, check = fn()
                    self.features += n
                    if check is not None:
                        checks.append((name, check))
                except Exception:
                    self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
                self.op_s.append(time.perf_counter() - a - (tracer.probe_s() - pa))
                self.op_names.append(name)
            self.walls.append(time.perf_counter() - t0 - (tracer.probe_s() - p0))
            for name, check in checks:
                try:
                    err = check()
                except Exception:
                    err = traceback.format_exc(limit=4)
                if err:
                    self.failures.append(f"{name}: {err}")


def _ops_factory(workload: str, ctx, data: dict, prime: bool = False):
    import workloads

    if workload == "country_export":
        return lambda: workloads.country_export(ctx, data["expected"], prime)
    return lambda: workloads.dedup_lifecycle(ctx, data["oracle"], prime)


def _prime(workload: str, spark, data: dict, run_dir: str, hits, phase: Phase) -> float:
    import spans

    ctx = _context(spark, spans.Tracer(spark, traced=False), data, run_dir, hits)
    return phase.prime(_ops_factory(workload, ctx, data, prime=True))


def _context(spark, tracer, data, run_dir, hits):
    import workloads

    return workloads.Context(
        spark=spark,
        tracer=tracer,
        data=data,
        out_dir=os.path.join(run_dir, "out"),
        cache_root=os.path.join(run_dir, "cache"),
        hits=hits,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import overturelink_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import logging

    import eventlog
    import spans as tr
    import workloads

    data = inputs(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # wins over spark.local.dir when the caller's environment sets it
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "tmp"),
        }
    )
    hits = workloads.CacheHits()
    fallback_log = logging.getLogger("overturelink_data_pipeline_spark.sources.fallback")
    fallback_log.addHandler(hits)
    fallback_log.setLevel(logging.INFO)

    spark = None
    try:
        conf = session_conf(run_dir, None)
        starts, warms = [], []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, s, w = start_session(conf)
            starts.append(s)
            warms.append(w)
        plain = Phase()
        prime_s = _prime(args.workload, spark, data, run_dir, hits, plain)
        # work moved out of the measured sequence into priming shows here
        setup_s = statistics.median(s + w for s, w in zip(starts, warms)) + prime_s
        tracer = tr.Tracer(spark, traced=False)
        ctx = _context(spark, tracer, data, run_dir, hits)
        iterations = max(1, round(args.seconds / NOMINAL_S[args.workload]))
        plain.run(_ops_factory(args.workload, ctx, data), tracer, iterations)
        phases = [plain]

        if args.trace:
            spark.stop()
            log_dir = os.path.join(run_dir, "eventlog")
            spark, s, w = start_session(session_conf(run_dir, log_dir))
            traced = Phase()
            ttracer = tr.Tracer(spark, traced=True)
            with ttracer.span("session", "warmup"):
                warm_up(spark)
            _prime(args.workload, spark, data, run_dir, hits, traced)
            ctx = _context(spark, ttracer, data, run_dir, hits)
            traced.run(_ops_factory(args.workload, ctx, data), ttracer, iterations)
            phases.append(traced)
            rss = peak_rss_mb(spark)
            cal = calibration(spark)
            spark.stop()
            spark = None
            groups = {}
            for path in eventlog.find_logs(log_dir):
                groups.update(eventlog.group_records(eventlog.read_events(path)))
            metrics = tr.layer_metrics(ttracer, groups, len(traced.walls))
            metrics.update(tr.session_metrics(starts, warms, prime_s, plain.walls, traced.walls))
            units = {k: unit for k, (unit, _) in tr.PER_LAYER.items()}
        else:
            rss = peak_rss_mb(spark)
            cal = calibration(spark)
            wall = statistics.median(plain.walls)
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "peak_rss_mb": rss,
                "features_per_s": plain.features / sum(plain.walls),
            }
            units = END_TO_END_UNITS
        attempted = sum(p.attempted for p in phases)
        failures = [f for p in phases for f in p.failures]
        for f in failures:
            print(f"perfbench: failed op {f}", file=sys.stderr)
        report = _report(args.workload, plain, tracer, setup_s, rss)
        context = {
            "calibration": cal,
            "cpus": CPUS,
            "iterations": len(plain.walls),
            "op_samples": len(plain.op_s),
            "op_s": [[n, round(s, 4)] for n, s in zip(plain.op_names, plain.op_s)],
        }
        print(json.dumps({"context": context}))
        print(json.dumps({"report": report}))
        print(
            json.dumps(
                {
                    "correct": not failures,
                    "attempted": attempted,
                    "failed": len(failures),
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


#: The phase totals each workload's report line adds.
REPORTED_TOTALS = {
    "country_export": ("cache_write_s", "cache_read_s", "publish_s"),
    "dedup_lifecycle": ("lifecycle_rebuild_s", "lifecycle_probe_s", "dedup_batch_s"),
}


def _report(workload: str, plain: Phase, tracer, setup_s: float, rss: float) -> dict:
    """Every end-to-end metric of the design that applies to the
    workload, from the plain (untraced) phase."""
    import spans

    r = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(plain.walls), "s"),
        "op_p50_s": (statistics.median(plain.op_s), "s"),
        "op_samples": (len(plain.op_s), "count"),
        "failed_ops_ratio": (len(plain.failures) / max(1, plain.attempted), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "features_per_s": (plain.features / sum(plain.walls), "1/s"),
    }
    totals = spans.phase_totals(tracer, len(plain.walls))
    r.update({k: (totals[k], "s") for k in REPORTED_TOTALS[workload]})
    return {k: {"value": v, "unit": u} for k, (v, u) in r.items()}


if __name__ == "__main__":
    sys.exit(main())
