"""Product benchmark: the CLI workloads end to end, or traced layer by layer.

Run from the root of a checkout of this repository::

    python3 perfbench/run.py --workload filter_crawl --seed 1 --seconds 10 --trace 0

One run, in one driver process at ``local[nproc]``:

1. sets up three times and reports the median as ``setup_s``: the first
   set-up counts from process start to a SparkSession (``session.get_spark``)
   plus loaded model artifacts (``artifacts.get_langid_model`` and
   ``get_bigram_models``); the other two stop the session, clear the
   artifact caches and build both again.  A traced run sets up once;
2. writes the seeded input parquet, outside any timed window;
3. runs the workload's CLI job in a closed loop from the fresh session:
   one job, then the next as soon as it ends, while fewer than
   ``--seconds`` have passed since the first began.  Each job writes a
   fresh output directory, which is checked (``workloads.check``);
   ``docs_per_s`` is input docs over the mean wall of the passing jobs.
   A single spark-submit of the CLI runs exactly one such job, so with a
   short window this is what one CLI invocation costs;
4. with ``--trace 1``, runs the traced passes of ``workloads`` after that
   and reports per-layer metrics instead of the end-to-end ones.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is the run record with host
facts, steal, input sizes and every span.  All files go under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

WORKLOADS = ("filter_crawl", "corpus_neardup")
SETUPS = 3
# A run must end within 180 s.  The traced incremental dumps take about a
# minute, so they start only if the traced run is this young; otherwise
# their metrics read 0 and the record says why.
INCREMENTAL_START_BY_S = 85.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- host


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, as bench.py reads them."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> dict[str, float]:
    """RSS in MB of the process tree under ``pid``, split into the driver,
    the JVM and everything else (Python workers)."""
    parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                mb = int(f.read().split()[1]) * PAGE / (1024.0 * 1024.0)
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except (OSError, ValueError, IndexError):
            continue
        key = "driver" if p == pid else "jvm" if comm == "java" else "workers"
        parts[key] += mb
    return parts


class RssSampler:
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_mb(pid)
            if sum(parts.values()) > self.peak_mb:
                self.peak_mb, self.peak_parts = sum(parts.values()), parts
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- spark


def spark_conf(work: Path) -> dict[str, str]:
    from spans import RETAIN_CONF

    tmp = work / "tmp"
    return {
        **RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def set_up(cores: int, conf: dict) -> tuple[object, float, float]:
    """get_spark, then the model artifacts; returns (spark, session_s, artifacts_s)."""
    from data_quality_monitoring_spark import artifacts
    from data_quality_monitoring_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    artifacts.get_langid_model()
    artifacts.get_bigram_models()
    return spark, t1 - t0, time.perf_counter() - t1


def tear_down(spark) -> None:
    """Stop the session and the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


# ---------------------------------------------------------------- run


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "data_quality_monitoring_spark" / "session.py").is_file():
        print(
            "perfbench: run from the repository root; "
            "data_quality_monitoring_spark/ is not here", file=sys.stderr,
        )
        return 2
    work = root / ".perfbench" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Python workers import the package from the checkout, wherever Spark
    # starts them; scratch files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the spark-submit launcher JVM gets its own options (see spark_conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path.insert(0, str(root))

    with RssSampler() as rss:
        record = run(args, work)
        peak_rss = rss.peak_mb
    record["peak_rss_mb"] = peak_rss
    record["peak_rss_parts_mb"] = rss.peak_parts
    res = record.pop("result")
    if args.trace:
        for name, mb in (("mem.peak_rss_mb", peak_rss),
                         ("mem.jvm_rss_mb", rss.peak_parts["jvm"]),
                         ("mem.workers_rss_mb", rss.peak_parts["workers"])):
            res["metrics"][name] = {"value": mb, "unit": "MB"}
    (work / "record.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"record": {k: v for k, v in record.items() if k != "spans"}}))
    print(json.dumps(res))
    return 0


def run(args: argparse.Namespace, work: Path) -> dict:
    from data_quality_monitoring_spark import artifacts
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    conf = spark_conf(work)
    steal0 = steal_ticks()

    # 1. set-up, SETUPS times
    spark, session_s, artifacts_s = set_up(cores, conf)
    setups = [process_age_s()]
    parts = [(session_s, artifacts_s)]
    for _ in range(0 if args.trace else SETUPS - 1):
        spark.stop()
        artifacts.get_langid_model.cache_clear()
        artifacts.get_bigram_models.cache_clear()
        t0 = time.perf_counter()
        spark, session_s, artifacts_s = set_up(cores, conf)
        setups.append(time.perf_counter() - t0)
        parts.append((session_s, artifacts_s))

    # 2. input, outside every timed window
    t0 = time.perf_counter()
    inp = W.make_input(args.workload, args.seed, work)
    gen_s = time.perf_counter() - t0

    # 3. closed loop of CLI jobs from the fresh session (untraced), or the
    # traced passes, which run the workload's job inside a span
    errors: list[str] = []
    walls: list[float] = []
    attempted = failed = 0
    layers: dict = {}
    spans: list[dict] = []
    t_loop = time.perf_counter()
    while not args.trace and (attempted == 0 or time.perf_counter() - t_loop < args.seconds):
        attempted += 1
        out = work / f"out-{attempted}"
        t = time.perf_counter()
        try:
            W.run_job(spark, args.workload, inp, out)
        except Exception as e:  # a failed job is a result, not a crash
            failed += 1
            errors.append(f"job {attempted}: {type(e).__name__}: {e}")
            continue
        wall = time.perf_counter() - t
        errs = W.check(args.workload, inp, out)
        shutil.rmtree(out, ignore_errors=True)
        if errs:
            failed += 1
            errors.extend(f"job {attempted}: {e}" for e in errs)
        else:
            walls.append(wall)
    if args.trace:
        layers, spans, errs = trace(spark, args.workload, args.seed, inp, work, cores)
        bad = [s["name"] for s in spans if s["failed_jobs"]]
        attempted, failed = len(spans), len(bad) + bool(errs)
        errors += [f"traced: {e}" for e in errs]
        errors += [f"traced: {n}: failed Spark jobs" for n in bad]
    version = spark.version
    tear_down(spark)
    steal1 = steal_ticks()

    if args.trace:
        metrics = {
            "session.start_s": (parts[0][0], "s"),
            "session.cold_start_s": (setups[0], "s"),
            "artifacts.load_s": (parts[0][1], "s"),
            **{k: (v, _unit(k)) for k, v in layers.items()},
        }
    else:
        docs_per_s = inp["docs"] * len(walls) / sum(walls) if walls else 0.0
        metrics = {
            "docs_per_s": (docs_per_s, "docs/s"),
            "setup_s": (statistics.median(setups), "s"),
        }
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": cores,
            "master": f"local[{cores}]",
            "spark": version,
            "python": sys.version.split()[0],
        },
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "input": {"docs": inp["docs"], "bytes": inp["bytes"], "gen_s": gen_s},
        "setup_s": setups,
        "session_s": [p[0] for p in parts],
        "artifacts_s": [p[1] for p in parts],
        "job_s": walls,
        "errors": errors,
        "spans": spans,
        "result": {
            "correct": not errors and (bool(walls) or bool(args.trace)),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf == "s" or leaf.endswith("_s"):
        return "s"
    if leaf.endswith(("frac", "yield", "amp")):
        return "ratio"
    return "count"


def trace(spark, workload: str, seed: int, inp: dict, work: Path, cores: int):
    """Per-layer metrics of one workload; returns (metrics, spans, output
    check errors of the traced jobs).

    Every workload reports the same names.  A layer a workload's traced run
    does not cover reports 0: the sink and the incremental path are traced
    on filter_crawl; the dedup chain, the scorer families and planning on
    corpus_neardup.  Layers are split between the two traced runs so that
    each ends well within a run's time limit."""
    from spans import Recorder, StatusReader
    import workloads as W

    rec = Recorder(StatusReader(spark))
    out: dict = dict.fromkeys(PER_LAYER, 0.0)
    traced_out = work / "out-traced"
    errs: list[str] = []
    if workload == "filter_crawl":
        W.warm_up(spark, inp)
        sink, job = W.trace_sink(spark, rec, inp, traced_out)
        out.update(sink)
        if process_age_s() < INCREMENTAL_START_BY_S:
            errs, inc = W.trace_incremental(spark, rec, seed, work, cores)
            out.update(inc)
        else:
            print("perfbench: incremental dumps skipped, no time left in the run",
                  file=sys.stderr)
    else:
        with rec.span("corpus") as job:
            W.run_job(spark, workload, inp, traced_out)
        out.update(W.trace_dedup(spark, rec, inp))
        out.update(W.trace_pipeline(spark, rec, inp))
        # the corpus job's Spark jobs that the dedup chain's spans account for
        chain = [s for s in rec.spans if s["name"].startswith("dedup.")]
        out["dedup.account_frac"] = sum(s["jobs"] for s in chain) / max(job["jobs"], 1)
    errs = W.check(workload, inp, traced_out) + errs
    for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_mb", "spill_mb"):
        out[f"engine.{k}"] = job[k]
    out["engine.exec_busy_frac"] = job["run_ms"] / (job["s"] * 1000.0 * cores)
    out["cache.persisted_rdds"] = rec.max_persisted
    out["cache.cached_mb"] = rec.max_cached_mb
    out["trace.overhead_s"] = rec.overhead_s
    return out, rec.spans, errs


PER_LAYER = (
    "pipeline.plan_s",
    *(f"operators.{f}.{k}" for f in ("rules", "patterns", "langid", "perplexity", "scrub")
      for k in ("s", "run_ms", "cpu_ms", "py_ms")),
    "sink.s", "sink.noop_s", "sink.overhead_s", "sink.jobs", "sink.scan_amp", "sink.out_mb",
    "dedup.filter.s",
    *(f"dedup.{n}.{k}" for n in ("exact", "minhash", "lsh", "verify", "cc")
      for k in ("s", "jobs", "stages", "shuffle_mb")),
    "dedup.lsh.candidates", "dedup.verify_yield", "dedup.account_frac",
    "incremental.dump_s", "incremental.jobs_per_dump", "incremental.store_read_mb",
    "incremental.exec_busy_frac",
)


if __name__ == "__main__":
    sys.exit(main())
