#!/usr/bin/env python3
"""Import benchmark: ``Restorer(spark, cfg).run()`` on a generated dump.

    python3 perfbench/run.py --workload csv_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One run:

1. generates the workload's dump and a tiny copy of its shape from
   ``--seed`` (untimed, in a child process, cached per seed under
   ``.bench_work/data``);
2. sets up three times: a Spark session on ``local[<cpus>]`` (the first
   also launches the JVM) plus one warm-up import of the tiny dump;
   ``setup_s`` is the median;
3. imports the full dump once untimed, then again and again, one import
   at a time (closed loop, one client), until ``--seconds`` have passed and
   at least two imports are timed;
4. reads the peak RSS of this process and the JVM, then checks every
   imported table against the generated source with DuckDB.

Every import uses the default config (``checksum=required``,
``analyze=optional``, file checkpoints). ``--trace 1`` installs the
per-layer wrappers of ``layers.py`` on every other import and prints the
per-layer metrics instead; the untraced imports of the same run give the
tracing overhead. The last line of stdout is the result JSON; the line
before it is the labelled record, also appended to
``.bench_work/results.jsonl``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
MIB = 1024 * 1024
SETUPS = 3
MIN_IMPORTS = 2
KEEP_SEEDS = 12
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

BULK = {"dbs": ["bench"], "tables": {"lineitem": 50_000}, "copies": {"lineitem": 4}}
SMALL = {"nation": 25, "customer": 1_500, "part": 2_000, "documents": 500}
JDBC = {"customer": 3_000, "part": 4_000, "orders": 30_000}


# name -> (layout of the measured dump, backend)
WORKLOADS = {
    "csv_bulk": ({"format": "csv", **BULK}, "local"),
    "sqldump_bulk": ({"format": "sql", **BULK}, "local"),
    "many_tables": ({"format": "csv", "dbs": ["db0", "db1"], "tables": SMALL}, "local"),
    "jdbc_tables": ({"format": "csv", "dbs": ["shop"], "tables": JDBC}, "jdbc"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Derby write inside the checkout.

    The driver heap is 2 GiB rather than the session factory's default, and
    Derby skips fsync (``durability=test``): the embedded target database's
    disk flushes are not the importer's work and only add noise."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={WORK} "
                 f"-Dderby.stream.error.file={WORK}/derby.log -Dderby.system.durability=test")
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "spark-warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus()), "SPARK_GRAFT_DRIVER_MEM": "2g",
        "JAVA_TOOL_OPTIONS": java_opts, "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = None


def source_rev() -> str:
    """git revision when the checkout is a repository, else a hash of the
    program's sources (the benchmark also runs from exported trees)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "tidb_lightning_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def tiny(layout: dict) -> dict:
    """Warm-up dump: the same tables and files in one database, 1/20 of the rows."""
    return dict(layout, dbs=layout["dbs"][:1],
                tables={t: max(5, n // 20) for t, n in layout["tables"].items()})


def generate(workload: str, tag: str, seed: int, layout: dict) -> tuple[str, dict]:
    """Make (or reuse) the dump of one seed in a child process; return its
    directory and manifest."""
    base = os.path.join(WORK, "data", workload)
    root = os.path.join(base, f"{tag}{seed}")
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), root, str(seed),
                    json.dumps(layout)], check=True, stdout=subprocess.DEVNULL)
    with open(root + ".manifest.json") as f:
        man = json.load(f)
    # keep the most recently used seeds of this workload, drop the rest
    os.utime(root + ".manifest.json")
    seeds = sorted((os.path.getmtime(p), p[: -len(".manifest.json")])
                   for p in (os.path.join(base, n) for n in os.listdir(base))
                   if p.endswith(".manifest.json") and os.path.basename(p).startswith(tag))
    for _, old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
        os.remove(old + ".manifest.json")
    return root, man


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


class Clock:
    """Wall time of a block, and that time net of hypervisor steal.

    On a shared virtual machine the host takes CPU time from busy vCPUs
    ("steal" in /proc/stat); a busy vCPU then runs only a share
    1 - stolen / (stolen + busy) of the wall time. ``net`` scales the wall
    time by that share, so that a run on a crowded host and one on a quiet
    host measure the same program alike. ``wall`` and ``steal`` stay in the
    record."""

    def __enter__(self):
        self.steal0, self.busy0 = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        steal1, busy1 = cpu_ticks()
        stolen = steal1 - self.steal0
        self.steal = stolen / max(1, stolen + busy1 - self.busy0)
        self.net = self.wall * (1 - self.steal)


def proc_cpu_s(pid) -> float:
    """User + system CPU seconds of a process (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_kib(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Importer:
    """One import = fresh target, default config, ``Restorer.run()``."""

    def __init__(self, backend: str):
        self.backend = backend
        self.n = 0
        self.run_dir = os.path.join(WORK, "run")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)

    def __call__(self, spark, source: str, tracer=None) -> dict:
        from tidb_lightning_spark.config import Config
        from tidb_lightning_spark.pipeline import Restorer

        self.n += 1
        target = os.path.join(self.run_dir, f"wh{self.n}")
        extra = {}
        if self.backend == "jdbc":
            # one Derby database per run; each import writes its own schemas
            url = f"jdbc:derby:{self.run_dir}/derby;create=true"
            extra = {"backend": "jdbc", "jdbc_url": url, "jdbc_driver": DERBY,
                     "jdbc_table_prefix": f"i{self.n}_"}
        cfg = Config.from_toml(None, source_dir=source, target_dir=target, **extra)
        root = tracer.span("import") if tracer else contextlib.nullcontext()
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = proc_cpu_s("self") + proc_cpu_s(jvm)
        try:
            with Clock() as clock, root:
                report = Restorer(spark, cfg).run()
            bad = {f"{t.db}.{t.table}" for t in report.tables if t.status != "imported"}
            for t in report.tables:
                if t.error:
                    log(f"table {t.db}.{t.table} failed: {t.error}")
        except Exception:
            traceback.print_exc()
            bad = None  # the whole import failed
        return {"seconds": clock.net, "wall": clock.wall, "steal": clock.steal,
                "cpu_s": proc_cpu_s("self") + proc_cpu_s(jvm) - cpu0, "target": target,
                "url": extra.get("jdbc_url"), "prefix": extra.get("jdbc_table_prefix"),
                "bad": bad}


def verify(spark, imp: dict, expected: dict) -> int:
    """Number of tables of one import that failed or differ from the source."""
    from verify import check_jdbc, check_parquet

    if imp["bad"] is None:
        return len(expected)
    if imp["url"]:
        wrong = check_jdbc(spark, imp["url"].replace(";create=true", ""),
                           {"driver": DERBY}, imp["prefix"], expected)
    else:
        wrong = check_parquet(imp["target"], expected)
    for key in wrong:
        log(f"verify: {key} differs from the generated source")
    return len(set(wrong) | imp["bad"])


def start_session():
    from tidb_lightning_spark.session import get_spark

    # a fixed heap and young generation: left to G1's resizing, the JVM's
    # peak RSS read either ~950 or ~1450 MiB on the same input
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Xms2g -Xmn512m"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit: the JVM ends when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def set_up(importer, warm_source: str):
    """SETUPS times: (re)start the session and import the tiny dump."""
    setups, spark = [], None
    for i in range(SETUPS):
        with Clock() as clock:
            if spark is not None:
                spark.stop()
            spark = start_session()
            warm = importer(spark, warm_source)
        setups.append(clock)
        if warm["bad"] is None or warm["bad"]:
            log(f"warm-up import {i} failed")
    log("setup_s " + " ".join(f"{c.net:.2f}" for c in setups))
    return spark, setups


def measure(spark, importer, source: str, seconds: float, trace: bool):
    """Import until ``seconds`` have passed and at least MIN_IMPORTS (4
    traced) imports are done.

    Trace mode alternates untraced and traced imports as U T T U U T T U,
    so that warm-up drift cancels out of the tracing overhead. Returns every
    import and the per-layer rows of the traced ones."""
    tracer = None
    if trace:
        from layers import Tracer, collect_jobs, layer_metrics

        tracer = Tracer()
        last_job = max((j["id"] for j in collect_jobs(spark.sparkContext, -1)), default=-1)
        cores = spark.sparkContext.defaultParallelism
    imports, layer_rows = [], []
    t_start = time.perf_counter()
    while True:
        traced = trace and len(imports) % 4 in (1, 2)
        if traced:
            lo = len(tracer.spans)
            tracer.install()
        try:
            imp = importer(spark, source, tracer if traced else None)
        finally:
            if traced:
                tracer.uninstall()
        imp["traced"] = traced
        imports.append(imp)
        if tracer is not None:
            jobs = collect_jobs(spark.sparkContext, last_job)
            last_job = max([last_job] + [j["id"] for j in jobs])
            if traced and imp["bad"] is not None:
                layer_rows.append(layer_metrics(tracer.spans, lo, jobs, cores))
        log(f"import {len(imports)}{' traced' if traced else ''}: {imp['seconds']:.3f} s")
        if time.perf_counter() - t_start >= seconds and len(imports) >= (4 if trace else MIN_IMPORTS):
            return imports, layer_rows, tracer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tidb_lightning_spark", "pipeline.py")):
        log(f"no program to benchmark: {ROOT}/tidb_lightning_spark is missing")
        return 2
    load = os.getloadavg()
    prepare_env()
    sys.path.insert(0, ROOT)
    layout, backend = WORKLOADS[args.workload]
    source, man = generate(args.workload, "s", args.seed, layout)
    warm_source, _ = generate(args.workload, "w", args.seed, tiny(layout))
    log(f"{args.workload} seed {args.seed}: {man['bytes'] / MIB:.1f} MiB, "
        f"{man['rows']} rows, {len(man['tables'])} tables")

    importer = Importer(backend)
    spark = None
    try:
        spark, setups = set_up(importer, warm_source)
        # the first full-size import after the tiny warm-ups still compiles
        # much of its path (it read 6-10 s where the next read 3.5-5 s), so
        # it is not timed
        untimed = [importer(spark, source)]
        imports, layer_rows, tracer = measure(spark, importer, source, args.seconds,
                                              bool(args.trace))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = (vm_hwm_kib("self") + vm_hwm_kib(jvm_pid)) / 1024
        attempted = failed = 0
        for imp in untimed + imports:
            attempted += len(man["tables"])
            failed += verify(spark, imp, man["tables"])
    finally:
        if spark is not None:
            shutdown(spark)

    plain = [i["seconds"] for i in imports if not i["traced"]]
    if tracer is None:
        import_s = median(plain)
        metrics = {
            "import_s": (import_s, "s"),
            "import_mib_s": (man["bytes"] / MIB / import_s, "MiB/s"),
            "setup_s": (median([c.net for c in setups]), "s"),
            "peak_rss_mib": (peak_rss, "MiB"),
            "tables_ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
    else:
        traced_s = median([i["seconds"] for i in imports if i["traced"]])
        metrics = {k: (median([r[k] for r in layer_rows]), _unit(k)) for k in layer_rows[0]}
        metrics["trace.import_s"] = (traced_s, "s")
        metrics["trace.overhead_s"] = (traced_s - median(plain), "s")
        cov = metrics["trace.span_coverage"][0]
        verdict = ""
        if args.workload == "csv_bulk":
            verdict = f" ({'ok' if 0.9 <= cov <= 1.1 else 'OUTSIDE'}: want 90-110%)"
        log(f"sanity: restore_table child spans + discover cover {cov:.1%} of import_s{verdict}")
        with open(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans}, f)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus(), "git_rev": source_rev(), "loadavg_start": list(load),
        "input_bytes": man["bytes"], "input_rows": man["rows"], "tables": len(man["tables"]),
        "imports": len(imports), "import_samples_s": [i["seconds"] for i in imports],
        "import_wall_s": [i["wall"] for i in imports],
        "import_steal_share": [i["steal"] for i in imports],
        "import_cpu_s": [i["cpu_s"] for i in imports],
        "setup_samples_s": [c.net for c in setups], "setup_wall_s": [c.wall for c in setups],
        "setup_steal_share": [c.steal for c in setups],
        "attempted": attempted, "failed": failed,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith(("_ratio", "_coverage")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
