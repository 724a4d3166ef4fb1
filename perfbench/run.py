"""Repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads:

- ``sink_putrecords``: ``BatchProducer`` add+flush bursts against the
  HTTP Kinesis stub in its own process; no Spark.
- ``spark_queries``: streaming, Kinesis sink and source, TPC-H and
  dedup/similarity registry queries on one Spark session (see
  ``spark_bench.WORKLOADS``).

The Spark session runs ``local[nproc]`` with ``nproc`` shuffle
partitions. Inputs are the sf0.1 fixture tables, generated once per
checkout by ``tools/gen_fixtures.py`` into ``.perfbench/data``; the
seed sets query order, burst sizes, payloads and keys. Each run works
in a fresh directory under ``.perfbench`` (its TMPDIR, Spark local
dirs and JVM temp dir) and removes it at exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics (0 for layers the workload does
not run). The line before it is the run record: core count, load at
start, the host's steal share over the run, program version and seed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SF = "0.1"
DRIVER_HEAP = "2g"
WORKLOADS = ("sink_putrecords", "spark_queries")
PROGRAM = ("frinesis_spark", "tests/kinesis_stub.py", "tests/parity.py", "tools/gen_fixtures.py")


def _program_version() -> str:
    """The git commit when there is one, else a digest of the program's
    Python sources (an exported checkout has no git metadata)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, "frinesis_spark")):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the host ran something
    else; its share over a run says how busy the shared host was."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest and guest_nice (fields 8-9) are already counted in user.
    return steal, sum(fields[:8])


def _fixtures() -> str:
    """The sf0.1 tables, generated on first use (not part of set-up)."""
    out = os.path.join(WORK, "data", f"sf{SF}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="gen-", dir=os.path.dirname(out))
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_fixtures.py"),
             "--sf", SF, "--out", tmp],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
        try:
            os.rename(tmp, out)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _isolate(run_dir: str, cpus: int) -> None:
    """Per-run temp and Spark dirs, worker import path, pinned cores
    and driver heap."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    # A fixed, pre-touched driver heap: otherwise the JVM's resident size
    # follows the collector's sizing choices and varies from run to run.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
    # Relative writes (spark-warehouse, derby.log) land in the run dir.
    os.chdir(run_dir)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _result_metrics(metrics: dict, trace: bool) -> dict:
    """Every declared metric of the run's kind, with its unit; a
    per-layer metric the workload does not produce reads 0."""
    units = _declared("per_layer" if trace else "end_to_end")
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    missing = [n for n in units if n not in metrics]
    if missing and not trace:
        raise KeyError(f"end-to-end metrics not measured: {missing}")
    out = {}
    for name, unit in units.items():
        v = float(metrics.get(name, 0))
        out[name] = {"value": v if math.isfinite(v) else 0.0, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its children and removes its run dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        "load1_start": os.getloadavg()[0],
        "version": _program_version(),
        "sf": SF,
    }
    steal0, total0 = _cpu_ticks()
    t_build = time.perf_counter()
    sf_dir = _fixtures()
    # Set-up time starts at process start but leaves out the one-time
    # fixture generation of a fresh checkout, which is a build step.
    t_start = T_START + (time.perf_counter() - t_build)
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK)
    try:
        _isolate(run_dir, cpus)
        sys.path.insert(0, ROOT)
        if args.workload == "sink_putrecords":
            from perfbench import sink_bench

            counts, metrics, extras = sink_bench.run(
                args.seed, args.seconds, bool(args.trace)
            )
        else:
            from perfbench import spark_bench

            counts, metrics, extras = spark_bench.run(
                args.workload, args.seed, args.seconds, bool(args.trace), t_start,
                sf_dir, os.path.join(run_dir, "eventlog"),
            )
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = _cpu_ticks()
    record["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    record.update(extras)
    record["percentiles"] = metrics.pop("_percentiles", None)
    record["pass_walls_s"] = metrics.pop("_pass_walls_s", None)
    record["query_median_s"] = metrics.pop("_query_median_s", None)
    print(json.dumps({"run": record}))
    print(json.dumps({**counts, "metrics": _result_metrics(metrics, bool(args.trace))}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
