#!/usr/bin/env python3
"""Benchmark of the repo's production entry points (closed loop, one client).

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1
    python3 perfbench/run.py --workload all --pin   # re-pin every variant

Run from the repository root. Each invocation starts one ``local[4]``
session, runs the workload once untimed (``setup_s`` is the session start
plus this first run: JVM launch, Python-worker boot and code generation,
what a user pays once per CLI call), then repeats the workload
for ``--seconds`` and checks every run's output against digests pinned from
a known-good tree (``pinned.json``). The session is the program's own, with
its default driver heap; before every run, untimed, the JVM heap is fully
collected. Per timed run: ``wall_s`` (the call),
``cpu_s`` (CPU of this process, the JVM and every Python worker) and
``peak_rss_mb`` (peak summed proportional resident memory of the JVM and its
workers); each is reported as the median over the timed runs.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (which adds one traced run and
isolated layer calls; see ``tracing.py``). A record of every sample and the
host goes to ``perfbench/.out/``.

``--workload all`` runs each workload of ``BENCHMARK.json`` ``ROUNDS``
times, each time in its own process with the next seed and with the
workload order alternating, and prints per workload the median of every
end-to-end metric with its unit, ``failed_frac``, and each metric's
run-to-run spread (interquartile range over median) next to its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
OUT_DIR = BENCH_DIR / ".out"
WORK_DIR = BENCH_DIR / ".work"
PINNED = BENCH_DIR / "pinned.json"

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}

CORES = 4
# At least this many timed runs, whatever --seconds says. The set-up run is
# the only warm-up (another would not fit a full campaign's time budget);
# the first timed run is still slower while the JVM compiles, and the median
# leaves it out.
MIN_REPS = 3
ROUNDS = 10  # invocations per workload in ``--workload all``, one seed each


def bench_env() -> dict[str, str]:
    """Keep Spark's scratch files and temp dirs inside the checkout."""
    tmp = WORK_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=str(WORK_DIR / "spark-local"),
        TMPDIR=str(tmp),
        PYTHONPATH=str(REPO) + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def foreign_jobs() -> list[str]:
    """Spark JVMs or pytest runs on this host that this process did not start
    and is not running under."""
    import procstat

    me = os.getpid()
    mine = set(procstat.tree(me)) | procstat.ancestors(me)
    found = []
    for pid in procstat.parents():
        if pid in mine:
            continue
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()
        except OSError:
            continue
        if "org.apache.spark.deploy.SparkSubmit" in cmd or "pytest" in cmd:
            found.append(f"{pid}: {cmd[:120]}")
    return found


def preflight(wait_s: float = 60.0) -> None:
    """Refuse to time next to another Spark job or test run: co-resident jobs
    inflate every query 1.5-3x on a small host."""
    deadline = time.monotonic() + wait_s
    while True:
        found = foreign_jobs()
        if not found:
            return
        if time.monotonic() > deadline:
            sys.exit("refusing to time: other Spark/pytest processes are running:\n  "
                     + "\n  ".join(found))
        time.sleep(2)


def host_record() -> dict:
    import pyspark

    mem = {}
    for line in Path("/proc/meminfo").read_text().splitlines():
        k, v = line.split(":", 1)
        if k in ("MemTotal", "MemAvailable"):
            mem[k] = int(v.split()[0]) // 1024
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "cores_used": CORES,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "loadavg": list(os.getloadavg()),
    }


def new_session():
    """The session the CLI builds (same app name, master and shuffle
    partitions), so ``cli.main``'s getOrCreate reuses it."""
    from ocr_obsidian_spark.session import build_session

    return build_session(
        "ocr-obsidian-spark-cli", f"local[{CORES}]", shuffle_partitions=32,
        extra_conf={
            "spark.local.dir": str(WORK_DIR / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK_DIR / 'tmp'} -XX:-UsePerfData",
        },
    )


class Bench:
    """One workload in one process: set-ups, timed repetitions, checks."""

    def __init__(self, workload: str, seed: int, pin: bool = False):
        import inputs
        import workloads

        self.seed = seed
        self.variant = inputs.variant_of(seed)
        self.env = bench_env()
        self.cores, self.work, self.master = CORES, WORK_DIR, f"local[{CORES}]"
        self.inp = inputs.ensure(workload, self.variant, self.env)
        self.wl = workloads.WORKLOADS[workload](self.inp, self.work, self.master)
        self.all_pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
        self.pinned = self.all_pinned.get(workload, {}).get(str(self.variant))
        self.pin = pin
        self.spark = None
        self.samples: list[dict] = []
        self.setup: dict = {}
        self.problems: list[str] = []

    def _one(self) -> dict:
        """One untimed restore, one timed call, one untimed output check."""
        import procstat

        me = os.getpid()
        self.wl.before_rep()
        if self.spark is not None:
            # a full collection first: each run starts from a collected heap,
            # as a fresh CLI process does, instead of the heap grown by the
            # runs before it
            self.spark._jvm.System.gc()
        s = {"ok": False}
        try:
            with procstat.PeakResident(me) as mem:
                cpu0 = procstat.cpu_seconds(me)
                t0 = time.perf_counter()
                info = self.wl.call(self.spark)
                s["wall_s"] = time.perf_counter() - t0
                s["cpu_s"] = procstat.cpu_seconds(me) - cpu0
            s["peak_rss_mb"] = mem.peak / 2**20
            s["t_start"] = time.time() - s["wall_s"]
            got = self.wl.outcome(info)
            s["outcome"] = got
            probs = self.wl.problems(got, None if self.pin else self.pinned)
            if self.pin:
                probs = [p for p in probs if not p.startswith("no pinned")]
            s["problems"] = probs
            s["ok"] = not probs
        except Exception as exc:  # a failed run is counted, not fatal
            s["problems"] = [f"{type(exc).__name__}: {exc}"]
            traceback.print_exc()
        return s

    def set_up(self) -> None:
        t0 = time.perf_counter()
        self.spark = new_session()
        start_s = time.perf_counter() - t0
        s = self._one()
        s.update(setup_s=time.perf_counter() - t0, start_s=start_s)
        self.setup = s
        if not s["ok"]:
            self.problems += [f"set-up: {p}" for p in s["problems"]]

    def timed(self, seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline or len(self.samples) < MIN_REPS:
            s = self._one()
            self.samples.append(s)
            if not s["ok"]:
                self.problems += s["problems"]

    def e2e(self) -> dict:
        ok = [s for s in self.samples if s["ok"]] or self.samples
        med = lambda k: statistics.median(s[k] for s in ok if k in s)  # noqa: E731
        wall = med("wall_s")
        return {
            "setup_s": self.setup["setup_s"],
            "wall_s": wall,
            "rows_per_s": self.wl.rows / wall,
            "cpu_s": med("cpu_s"),
            "peak_rss_mb": med("peak_rss_mb"),
        }

    def close(self) -> None:
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        # stop the driver JVM too (it exits on EOF of its stdin): nothing the
        # benchmark started may outlive it
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=60)


def run_one(args) -> int:
    sys.path[:0] = [str(REPO)]
    try:
        import ocr_obsidian_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test from {REPO}: {exc}", file=sys.stderr)
        return 2
    import procstat

    preflight()
    os.environ.update(bench_env())
    host = host_record()
    steal0, ticks0 = procstat.host_ticks()
    bench = Bench(args.workload, args.seed, pin=args.pin)
    try:
        bench.set_up()
        if args.pin:
            return pin(bench)
        bench.timed(args.seconds)
        layers = None
        if args.trace:
            import tracing

            OUT_DIR.mkdir(exist_ok=True)
            layers = tracing.traced_run(
                bench, bench.e2e(), host,
                OUT_DIR / f"trace-{args.workload}-seed{args.seed}.json", SPEC["per_layer"])
        metrics = bench.e2e()
    finally:
        bench.close()
    steal1, ticks1 = procstat.host_ticks()
    host["steal_share"] = (steal1 - steal0) / max(ticks1 - ticks0, 1)
    attempted = len(bench.samples)
    failed = sum(not s["ok"] for s in bench.samples)
    correct = not bench.problems
    OUT_DIR.mkdir(exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "variant": bench.variant,
        "input": {k: v for k, v in bench.inp.items() if k != "dir"},
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "setup": bench.setup, "samples": bench.samples,
        "problems": bench.problems, "metrics": metrics, "layers": layers,
    }
    (OUT_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    for p in bench.problems:
        print(f"CHECK FAILED: {p}")
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v:.4g} {E2E_UNITS[k]}" for k, v in metrics.items())
        + f", failed_frac={failed / attempted:.3g} ratio (n={attempted} timed runs)")
    print(f"host: {json.dumps(host)}")
    if args.trace:
        out = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layers.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def pin(bench: Bench) -> int:
    """Record the set-up run's outcome as the pinned expectation."""
    s = bench.setup
    if not s["ok"]:
        print(f"not pinning: {s['problems']}", file=sys.stderr)
        return 1
    got = dict(s["outcome"])
    got.pop("committed", None)
    pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    pinned.setdefault(bench.wl.name, {})[str(bench.variant)] = got
    PINNED.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    print(json.dumps({bench.wl.name: {bench.variant: got}}))
    return 0


def run_all(args) -> int:
    """Each workload in its own process, ``ROUNDS`` seeds, order alternating.
    With ``--pin``: pin every workload's outputs for every input variant."""
    import inputs
    import workloads

    me = str(Path(__file__).resolve())
    if args.pin:
        for v in range(inputs.VARIANTS):
            for name in workloads.WORKLOADS:
                subprocess.run([sys.executable, me, "--workload", name, "--seed", str(v),
                                "--pin"], check=True, timeout=900)
        return 0
    names = [w["name"] for w in SPEC["workloads"]]
    results: dict[str, list[dict]] = {n: [] for n in names}
    for r in range(ROUNDS):
        for name in names if r % 2 == 0 else names[::-1]:
            seed = args.seed + r
            out = subprocess.run(
                [sys.executable, me, "--workload", name, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                capture_output=True, text=True, timeout=900)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{name} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            else:
                res = json.loads(lines[-1])
            results[name].append(res)
            print(f"{name} seed {seed}: " + "  ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    ok = True
    summary = {}
    for name, rs in results.items():
        attempted = sum(r["attempted"] for r in rs)
        failed = sum(r["failed"] for r in rs)
        ok &= failed == 0 and all(r["correct"] for r in rs)
        print(f"== {name} (median of {len(rs)} invocations, {attempted} timed runs)")
        row = {}
        for k in sorted({k for r in rs for k in r["metrics"]}):
            vals = [r["metrics"][k]["value"] for r in rs if k in r["metrics"]]
            unit = next(r["metrics"][k]["unit"] for r in rs if k in r["metrics"])
            med = statistics.median(vals)
            row[k] = {"value": med, "unit": unit}
            line = f"   {k:<34} {med:>14.6g} {unit}"
            if k in bounds and len(vals) > 1:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                # the bound caps every spread but set-up's, whose medians
                # must still agree between two campaigns within it
                over = k != "setup_s" and spread > bounds[k]
                ok &= not over
                line += (f"   spread {spread:.3f} of bound {bounds[k]}"
                         f"{'  OVER' if over else ''}")
            print(line)
        row["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
        print(f"   {'failed_frac':<34} {row['failed_frac']['value']:>14.6g} ratio")
        summary[name] = {"correct": all(r["correct"] for r in rs), "metrics": row}
    print(json.dumps(summary))
    return 0 if ok else 1


def main() -> int:
    sys.path.insert(0, str(BENCH_DIR))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract", "prepare", "resume_skew", "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's outputs in pinned.json instead of checking")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
