"""Per-layer tracing from outside the program.

``Tracer.install()`` wraps the pipeline's public calls (discover, table
DDL, read+transform, the sinks' writes, the readback pass, checkpoint
writes) with a timing wrapper that records a span (name, start, end,
parent) and tags every Spark job the call starts with the job group
``pb:<span index>``. After an import, ``collect_jobs`` reads the jobs and
stages that import ran from Spark's status store, and ``layer_metrics``
attributes their task time, bytes and wall time to the spans. Nothing in
the program is edited; uninstalling restores the original functions.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time

from pyspark import SparkContext

GROUP_KEY = "spark.jobGroup.id"
MIB = 1024 * 1024


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- wrapping -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, sticky: bool = False):
        """Record one span and label the Spark jobs started inside it."""
        sc = SparkContext._active_spark_context
        idx = len(self.spans)
        span = {"name": name, "start": time.time(), "end": None,
                "parent": self._stack[-1] if self._stack else None}
        self.spans.append(span)
        self._stack.append(idx)
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, f"pb:{idx}")
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            # a sticky span keeps labelling the jobs its caller runs on
            # the DataFrame it returned, until the parent span ends
            if not sticky:
                sc.setLocalProperty(GROUP_KEY, prev)

    def _wrap(self, owner, attr: str, name: str, sticky: bool = False, on_result=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, sticky) as span:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    span.update(on_result(result))
                return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def _wrap_store(self, pipeline):
        orig_open = pipeline.open_checkpoint_store
        tracer = self

        @functools.wraps(orig_open)
        def open_store(*args, **kwargs):
            store = orig_open(*args, **kwargs)
            for meth in ("update", "engine_update", "clear_engines", "remove"):
                tracer._wrap(store, meth, "checkpoints.update")
            return store

        pipeline.open_checkpoint_store = open_store
        self._patched.append((pipeline, "open_checkpoint_store", orig_open))

    def install(self) -> None:
        from tidb_lightning_spark import pipeline
        from tidb_lightning_spark.sinks.files_sink import FilesSink
        from tidb_lightning_spark.sinks.jdbc_sink import JDBCSink

        R = pipeline.Restorer
        self._wrap(pipeline, "discover", "loader.discover", on_result=lambda r: {
            "files": sum(len(t.data_files) for t in r.sorted_tables())})
        self._wrap(R, "restore_table", "restore_table")
        self._wrap(R, "_table_info", "ddl.table_info")
        self._wrap(R, "_read_and_transform", "transform.plan")
        self._wrap(FilesSink, "write_table", "files_sink.write",
                   on_result=lambda r: {"files": r.n_files})
        self._wrap(pipeline, "_readback_pass", "readback")
        self._wrap(JDBCSink, "write_table", "jdbc_sink.write")
        self._wrap(R, "_jdbc_readback_df", "jdbc_sink.readback", sticky=True)
        self._wrap_store(pipeline)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# -- Spark status store ---------------------------------------------------
def _opt(o):
    return o.get() if o.isDefined() else None


def collect_jobs(sc, after_job: int) -> list[dict]:
    """Jobs with id > ``after_job`` and their executed stages, from
    ``statusStore()`` (``stageList`` returns a Scala Seq on Spark 4.1)."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after_job:
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = j.stageIds()
        out.append({
            "id": j.jobId(), "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000 if sub else None,
            "end": done.getTime() / 1000 if done else None,
            "stage_ids": [ids.apply(k) for k in range(ids.size())], "stages": [],
        })
    wanted = {sid: job for job in out for sid in job["stage_ids"]}
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    for i in range(stages.size()):
        d = stages.apply(i)
        job = wanted.get(d.stageId())
        if job is None or d.status().toString() == "SKIPPED":
            continue
        job["stages"].append({
            "id": d.stageId(), "attempt": d.attemptId(), "tasks": d.numTasks(),
            "complete": d.numCompleteTasks(), "failed": d.numFailedTasks(),
            "killed": d.numKilledTasks(), "run_s": d.executorRunTime() / 1000,
            "input": d.inputBytes(), "records": d.inputRecords(), "output": d.outputBytes(),
            "shuffle_read": d.shuffleReadBytes(), "shuffle_write": d.shuffleWriteBytes(),
            "spill": d.diskBytesSpilled(),
        })
    return sorted(out, key=lambda j: j["id"])


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _stage_kind(st: dict) -> str:
    """Role of a stage inside the files sink's write: the map stage scans
    the source and writes the shuffle; the result stage reads it, sorts
    and writes files; a stage doing neither is the range sampler's
    re-scan. An unshuffled write (small table) scans and writes at once."""
    if st["shuffle_write"] > 0:
        return "scan"
    if st["shuffle_read"] > 0:
        return "sort_write"
    if st["output"] > 0:
        return "scan"
    return "sample"


def layer_metrics(spans: list[dict], lo: int, jobs: list[dict], cores: int) -> dict[str, float]:
    """Per-layer numbers of ONE traced import: ``spans[lo]`` is its root
    span (the whole timed import) and every later span belongs to it."""
    root = spans[lo]
    wall = root["end"] - root["start"]
    by_span: dict[int, list[dict]] = {}
    for job in jobs:
        g = job["group"] or ""
        if g.startswith("pb:"):
            by_span.setdefault(int(g[3:]), []).append(job)

    def named(name):
        return [i for i in range(lo, len(spans)) if spans[i]["name"] == name]

    def dur(name):
        return sum(spans[i]["end"] - spans[i]["start"] for i in named(name))

    def span_jobs(name):
        return [j for i in named(name) for j in by_span.get(i, [])]

    def job_wall(js):
        return _union([(j["start"], j["end"]) for j in js if j["start"] and j["end"]])

    all_stages = [st for j in jobs for st in j["stages"]]
    run_s = sum(st["run_s"] for st in all_stages)
    intervals = [(max(j["start"], root["start"]), min(j["end"], root["end"]))
                 for j in jobs if j["start"] and j["end"]]
    busy = _union([iv for iv in intervals if iv[1] > iv[0]])

    write_jobs = span_jobs("files_sink.write")
    kinds = {"scan": [], "sort_write": [], "sample": []}
    sample_jobs = 0
    for j in write_jobs:
        ks = [_stage_kind(st) for st in j["stages"]]
        for st, k in zip(j["stages"], ks):
            kinds[k].append(st)
        sample_jobs += bool(ks) and all(k == "sample" for k in ks)
    jdbc_write = [st for j in span_jobs("jdbc_sink.write") for st in j["stages"]]
    scan = kinds["scan"] + jdbc_write
    scan_s = sum(st["run_s"] for st in scan)
    sample_s = sum(st["run_s"] for st in kinds["sample"])
    write_stages = [st for j in write_jobs for st in j["stages"]]
    commit_s = sum(
        spans[i]["end"] - spans[i]["start"] - job_wall(by_span.get(i, []))
        for i in named("files_sink.write")
    )
    table_s = [spans[i]["end"] - spans[i]["start"] for i in named("restore_table")]
    children = [i for i in range(lo, len(spans)) if spans[i]["parent"] is not None
                and spans[spans[i]["parent"]]["name"] == "restore_table"]
    child_s = sum(spans[i]["end"] - spans[i]["start"] for i in children)
    tasks = sum(st["complete"] + st["failed"] + st["killed"] for st in all_stages)
    return {
        "pipeline.restore_table_p50_s": _pct(table_s, 50),
        "pipeline.restore_table_p75_s": _pct(table_s, 75),
        "pipeline.driver_gap_s": wall - busy,
        "pipeline.executor_busy_ratio": run_s / (wall * cores),
        "loader.discover_s": dur("loader.discover"),
        "loader.files": sum(spans[i].get("files", 0) for i in named("loader.discover")),
        "ddl.table_info_s": dur("ddl.table_info"),
        "transform.plan_s": dur("transform.plan"),
        "transform.plan_calls": len(named("transform.plan")),
        "sources.scan_task_s": scan_s,
        "sources.input_mib": sum(st["input"] for st in scan) / MIB,
        "sources.records_read": sum(st["records"] for st in scan),
        "files_sink.write_s": dur("files_sink.write"),
        "files_sink.sample_jobs": sample_jobs,
        "files_sink.sample_task_s": sample_s,
        "files_sink.sample_rescan_ratio": sample_s / scan_s if scan_s else 0.0,
        "files_sink.sort_write_task_s": sum(st["run_s"] for st in kinds["sort_write"]),
        "files_sink.shuffle_write_mib": sum(st["shuffle_write"] for st in write_stages) / MIB,
        "files_sink.spill_mib": sum(st["spill"] for st in write_stages) / MIB,
        "files_sink.output_mib": sum(st["output"] for st in write_stages) / MIB,
        "files_sink.files": sum(spans[i].get("files", 0) for i in named("files_sink.write")),
        "files_sink.commit_s": commit_s,
        "readback.s": dur("readback"),
        "readback.task_s": sum(st["run_s"] for j in span_jobs("readback") for st in j["stages"]),
        "jdbc_sink.write_s": dur("jdbc_sink.write"),
        "jdbc_sink.readback_s": dur("jdbc_sink.readback") + job_wall(span_jobs("jdbc_sink.readback")),
        "jdbc_sink.task_s": sum(st["run_s"] for st in jdbc_write),
        "checkpoints.update_s": dur("checkpoints.update"),
        "checkpoints.updates": len(named("checkpoints.update")),
        "spark.jobs": len(jobs),
        "spark.stages": len(all_stages),
        "spark.tasks": tasks,
        "spark.task_success_ratio": sum(st["complete"] for st in all_stages) / tasks if tasks else 1.0,
        "trace.span_coverage": (child_s + dur("loader.discover")) / wall,
    }


def _pct(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
