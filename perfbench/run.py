"""Layered benchmark of the engine's public driver contract.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload reference_sql --seed 1 --seconds 30 --trace 0

One process, one client, closed loop on ``local[nproc]``: each query
starts only after the previous one returned. Phases of a run:

1. set-up (``setup_s``): imports, ``session.get_spark``, the cold
   flagship ``entry()``, then one pass of the workload at sf0.1 that
   collects every result to pandas. That pass is the warm-up and the
   capture for the output check; it pays the first-call cost of the
   per-session memos (tokenizer training is keyed on application id and
   data dir), so that cost lands in set-up on every commit.
2. measured passes at sf0.1, order shuffled by ``--seed``: at least
   three, and more while the next one (taken to last as long as the
   previous) ends within ``--seconds``.
3. output check, outside the timed region: every captured result
   against its DuckDB ``oracle_sql()`` with ``tools/check_oracle.canon``.

The measured loop calls ``_tune`` and the registry function (what
``queries()[name]`` does) and the ``noop`` write, each timed apart.
With ``--trace 1`` the run also enables Spark's event log, sets a job
group per query, registers a streaming listener, probes ``load_table``
on every table, and prints the per-layer metrics instead of the
end-to-end ones.
The last line of stdout is one JSON object; see perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from workloads import WORKLOADS  # noqa: E402

PACKAGE = "data_pipeline_capstone_project_spark"
#: the fixture tables described in TESTDATA.md; read-only
TESTDATA = "/root/testdata"
SF_DIR = f"{TESTDATA}/sf0.1"
#: where session.ship_package writes the zip its Python workers import
PACKAGE_ZIP = os.path.join("/tmp", f"{PACKAGE}.zip")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
#: the median of three passes drops the first pass, which still runs
#: part of the JIT warm-up
MIN_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def package_files() -> dict[str, bytes]:
    """The package's .py sources, keyed the way ship_package names them."""
    out = {}
    for root, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, ROOT)] = fh.read()
    return out


def zip_matches_checkout() -> bool:
    try:
        with zipfile.ZipFile(PACKAGE_ZIP) as zf:
            shipped = {n: zf.read(n) for n in zf.namelist()}
    except (OSError, zipfile.BadZipFile):
        return False
    return shipped == package_files()


def isolate_package_zip() -> str:
    """ship_package rebuilds its fixed-path zip only when the sources
    are newer than it, so a zip left by another checkout with newer
    files would be shipped to this run's Python workers. Remove any zip
    that is not this checkout's code."""
    if zip_matches_checkout():
        return "reused"
    if os.path.exists(PACKAGE_ZIP):
        os.remove(PACKAGE_ZIP)
    return "rebuilt"


def driver_memory() -> str:
    """A quarter of the host's memory, 1-2 GiB; the get_spark default
    of 48g exceeds small hosts."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(2, kb // 4 // 1024 // 1024))}g"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split between the
    processes that map them, so a process tree's sum counts them once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemory(threading.Thread):
    """Samples the summed Pss of this process and all its descendants
    (the JVM, the pyspark daemon and its Python workers) and keeps the
    peak sample."""

    def __init__(self, interval_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval_s)

    def sample(self) -> None:
        total = sum(pss_kb(p) for p in descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)
        self.samples += 1

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def source_hash() -> str:
    """Hash of the code a run executes: the package, the entry module and
    the benchmark itself."""
    h = hashlib.sha256()
    files = package_files()
    for name in ("__spark_entry__.py", *(f"perfbench/{f}" for f in sorted(os.listdir(HERE)))):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, name), "rb") as fh:
                files[name] = fh.read()
    for name in sorted(files):
        h.update(name.encode() + b"\0" + files[name] + b"\0")
    return h.hexdigest()


def load_canon():
    """tools/check_oracle.canon, imported without letting that script's
    own sys.path entry shadow this checkout's package."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


def check_outputs(captured: dict, oracles: dict, canon) -> dict[str, str]:
    """Compare each captured result with its oracle at SF_DIR; returns
    {query: problem} for the mismatches."""
    import duckdb

    from data_pipeline_capstone_project_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            if os.path.isfile(f"{SF_DIR}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        bad = {}
        for name, spd in captured.items():
            if name not in oracles:
                if len(spd) == 0:
                    bad[name] = "no oracle and no rows"
                continue
            opd = con.execute(oracles[name]).df()
            if sorted(spd.columns) != sorted(opd.columns):
                bad[name] = f"columns {sorted(spd.columns)} != {sorted(opd.columns)}"
            elif len(spd) != len(opd) or canon(spd) != canon(opd):
                bad[name] = f"values differ (rows {len(spd)}/{len(opd)})"
        return bad
    finally:
        con.close()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers,
    and wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    pids = [p for p in descendants(jvm.pid) if p != jvm.pid]
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 10
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    if not os.path.isfile(f"{SF_DIR}/lineitem.parquet"):
        print(f"perfbench: test data missing under {TESTDATA}", file=sys.stderr)
        return 2

    # Everything the run can redirect stays in the checkout: Spark local
    # dirs, stream checkpoints (tempfile), JVM temp files, the event log.
    # Only ship_package's zip path is fixed by the program.
    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # for every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={work}"))
    )
    tempfile.tempdir = None
    zip_state = isolate_package_zip()
    sha = source_hash()

    import bench
    import __spark_entry__ as entrymod
    from data_pipeline_capstone_project_spark.registry import ORACLES, QUERIES
    from data_pipeline_capstone_project_spark.schemas import TESTDATA_TABLES
    from data_pipeline_capstone_project_spark.session import get_spark
    from data_pipeline_capstone_project_spark.sources.readers import load_table

    import layers as tr

    nproc = len(os.sched_getaffinity(0))
    mem = driver_memory()
    cpu0 = bench.read_cpu_stat()
    conf = {
        "spark.driver.memory": mem,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    evlog_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evlog_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file://{evlog_dir}",
            }
        )

    phases: dict[str, float] = {}
    memory = TreeMemory()
    memory.start()
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=nproc, extra_conf=conf)
    phases["get_spark_s"] = time.perf_counter() - t
    sc = spark.sparkContext
    listener = None
    failures: dict[str, str] = {}
    try:
        if args.trace:
            listener = tr.StreamListener()
            spark.streams.addListener(listener)
        sc.setJobGroup("perfbench-setup", "set-up")
        t = time.perf_counter()
        entrymod.entry(spark).write.format("noop").mode("overwrite").save()
        phases["entry_s"] = time.perf_counter() - t
        if not zip_matches_checkout():
            raise RuntimeError(f"{PACKAGE_ZIP} does not hold this checkout's package")

        queries = entrymod.queries()

        def scrub() -> None:
            # as bench.py: release cached relations and loaded state
            # stores between queries so later queries do not inherit them
            spark.catalog.clearCache()
            gc.collect()
            sc._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

        t = time.perf_counter()
        captured = {}
        for name in workload:
            try:
                c0 = time.perf_counter()
                captured[name] = queries[name](spark, SF_DIR).toPandas()
                phases[f"capture.{name}_s"] = time.perf_counter() - c0
            except Exception as exc:  # a failing query is a result, not a crash
                failures[f"check:{name}"] = repr(exc)[:300]
            scrub()
        phases["capture_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        rng = random.Random(args.seed)
        records: list[dict] = []
        pass_walls: list[float] = []
        attempted = 0
        t_meas = time.perf_counter()
        while len(pass_walls) < MIN_PASSES or (
            time.perf_counter() - t_meas + pass_walls[-1] <= args.seconds
        ):
            p = len(pass_walls)
            order = list(workload)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                attempted += 1
                rec = {"pass": p, "query": name, "group": f"perfbench-{p}-{name}"}
                try:
                    # the two calls queries()[name] makes, timed apart
                    if args.trace:
                        sc.setJobGroup(rec["group"], name)
                        rec["t0"] = time.time()
                    a = time.perf_counter()
                    entrymod._tune(spark)
                    b = time.perf_counter()
                    df = QUERIES[name](spark, SF_DIR)
                    c = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    d = time.perf_counter()
                    if args.trace:
                        rec["t1"] = time.time()
                    rec.update(tune_s=b - a, build_s=c - b, noop_s=d - c, wall_s=d - a)
                    records.append(rec)
                except Exception as exc:
                    failures[f"pass{p}:{name}"] = repr(exc)[:300]
                scrub()
            pass_walls.append(time.perf_counter() - t_pass)
        measured_s = time.perf_counter() - t_meas
        peak_mb = memory.stop()

        if args.trace:
            sc.setJobGroup("perfbench-probe", "load_table probe")
            t = time.perf_counter()
            for table in TESTDATA_TABLES:
                load_table(spark, SF_DIR, table).write.format("noop").mode("overwrite").save()
            phases["load_table_probe_s"] = time.perf_counter() - t
            if not listener.drain():
                print("perfbench: streaming listener did not drain", file=sys.stderr)
    finally:
        stop_spark(spark)

    # the oracle_sql() values for this workload; oracle_sql() itself
    # resolves all registry entries, which costs ~2 s per run
    oracles = {n: v() if callable(v) else v for n, v in ORACLES.items() if n in captured}
    bad = check_outputs(captured, oracles, load_canon())
    failures.update({f"oracle:{k}": v for k, v in bad.items()})
    attempted += len(workload)
    failed = len(failures)

    samples = [r["wall_s"] for r in records]
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(pass_walls),
        "query_p50_s": statistics.median(samples),
        "peak_rss_mb": peak_mb,
    }
    steal = bench.cpu_delta(cpu0, bench.read_cpu_stat())
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": os.getloadavg(),
            "steal_frac": steal["steal_frac"],
            "iowait_frac": steal["iowait_frac"],
            "driver_memory": mem,
        },
        "package_zip": zip_state,
        "source_sha256": sha,
        "phases_s": phases,
        "setup_s": setup_s,
        "measured_s": measured_s,
        "pass_walls_s": pass_walls,
        "query_samples": len(samples),
        "memory_samples": memory.samples,
        "e2e": e2e,
        "failures": failures,
        "per_query": records,
    }

    if args.trace:
        logs = os.listdir(evlog_dir)
        log = tr.read_event_log(os.path.join(evlog_dir, logs[0]))
        tr.attribute(log, records, listener)
        per_pass = [
            tr.pass_metrics([r for r in records if r["pass"] == p], w)
            for p, w in enumerate(pass_walls)
        ]
        layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        layer["session.get_spark_s"] = phases["get_spark_s"]
        layer["session.entry_s"] = phases["entry_s"]
        layer["sources.load_table_probe_s"] = phases["load_table_probe_s"]
        jobs_by_query: dict[str, list[int]] = {}
        for r in records:
            jobs_by_query.setdefault(r["query"], []).append(r["jobs"])
        untraced = []
        for f in os.listdir(OUT_DIR):
            if f.startswith(f"{args.workload}-") and f.endswith("-trace0.json"):
                with open(os.path.join(OUT_DIR, f)) as fh:
                    prior = json.load(fh)
                # only untraced runs of the same code
                if prior.get("source_sha256") == sha:
                    untraced.append(prior["e2e"]["wall_s"])
        detail.update(
            per_layer=layer,
            per_pass=per_pass,
            wall_split=[tr.wall_split([r for r in records if r["pass"] == p], w)
                        for p, w in enumerate(pass_walls)],
            jobs_by_query=jobs_by_query,
            jobs_repeat=all(len(set(v)) == 1 for v in jobs_by_query.values()),
            tracing_overhead_s=(
                layer["trace.wall_s"] - statistics.median(untraced) if untraced else None
            ),
        )
        metrics = layer
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if {m["name"] for m in declared} != set(metrics):
        raise RuntimeError("metrics differ from those BENCHMARK.json declares")
    print_report(detail, attempted, failed, units)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def print_report(detail: dict, attempted: int, failed: int, units: dict[str, str]) -> None:
    """Human-readable summary ahead of the JSON line."""
    e2e, host = detail["e2e"], detail["host"]
    print(
        f"workload {detail['workload']} seed {detail['seed']} trace {detail['trace']} "
        f"nproc {host['nproc']} driver_memory {host['driver_memory']} "
        f"loadavg {host['loadavg'][0]:.2f} steal {host['steal_frac']:.4f} "
        f"package_zip {detail['package_zip']}"
    )
    for k, v in e2e.items():
        print(f"  {k:14s} {v:12.4f} {units[k]}")
    print(f"  {'failed_frac':14s} {failed / attempted:12.4f} ratio  ({failed}/{attempted})")
    print(
        f"  passes {len(detail['pass_walls_s'])}, query samples {detail['query_samples']}, "
        "phases " + ", ".join(f"{k} {v:.2f}" for k, v in detail["phases_s"].items())
    )
    for k, v in detail["failures"].items():
        print(f"  FAILED {k}: {v}")
    if not detail["trace"]:
        return
    print(f"  tracing overhead (traced - untraced wall_s): {detail['tracing_overhead_s']}")
    split = detail["wall_split"]
    print("  pass wall split (median over passes): " + ", ".join(
        f"{k} {statistics.median(w[k] for w in split):.3f}" for k in split[0]))
    cols = ("tune_s", "build_s", "noop_s", "jobs", "tasks", "driver_gap_s",
            "critical_path_s", "task_s", "python_task_s", "batches")
    print("  pass query                       " + " ".join(f"{c:>15s}" for c in cols))
    for r in detail["per_query"]:
        print(f"  {r['pass']:4d} {r['query']:28s} " + " ".join(f"{r[c]:15.3f}" for c in cols))
    for k, v in detail["per_layer"].items():
        print(f"  {k:32s} {v:16.4f} {units[k]}")


if __name__ == "__main__":
    sys.exit(main())
