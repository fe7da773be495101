"""HTTP server mode (M5) — the reference's status/control plane.

Re-creates the surface of lightning.go:95-214 (RunServer + goServerMode)
with the stdlib only:

    GET  /metrics             Prometheus exposition (lightning.go:129)
    GET  /tasks               {"current": id|null, "queue": [ids]}
    POST /tasks               submit a task (JSON config) -> {"id": N}
    GET  /tasks/<id>          the submitted config
    DELETE /tasks/<id>        drop a queued task, or CANCEL the running
                              one (reference handleDeleteOneTask,
                              lightning.go:482-515 — cancels the task
                              context; here: Spark job-group cancel)
    PATCH /tasks/<id>/front   move a queued task to the queue head
    PATCH /tasks/<id>/back    move a queued task to the queue tail
                              (lightning.go:517-546 + configlist.go)
    GET  /progress/task       overall progress JSON (lightning.go:562)
    GET  /progress/table?t=db.tbl   per-table checkpoint (lightning.go:573)
    GET  /pause               {"paused": bool}        (lightning.go:589-606)
    PUT  /pause               set the pause gate
    PUT  /resume              clear the pause gate    (lightning.go:608-623)
    GET/PUT /loglevel         {"level": "info"}       (lightning.go:144)

Tasks run strictly one-at-a-time on a worker thread, like the reference's
taskCh loop (lightning.go:216-254): server mode exists so several dump
directories can be queued against one long-lived Spark session. The
pause gate is the flag file the pipeline's ``Pauser`` polls
(pipeline.py:113) — pausing stops the run loop at the next table
boundary; Spark stages already in flight finish first.
"""

from __future__ import annotations

import json
import logging
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from tidb_lightning_spark import metrics

log = logging.getLogger("tls.server")


class TaskQueue:
    """Serial task executor (reference taskCh, lightning.go:216-254)."""

    def __init__(self, runner, canceller=None):
        self._runner = runner  # (task_id, cfg_dict) -> result dict
        # optional (task_id) -> None hook that aborts the RUNNING task
        # (the reference cancels the task's context; the pipeline analog
        # is a Spark job-group cancel — see pipeline_canceller)
        self._canceller = canceller
        self._lock = threading.Lock()
        self._cv = threading.Condition(self._lock)
        self._next_id = 1
        self._queue: list[int] = []
        self._configs: dict[int, dict] = {}
        self._results: dict[int, dict] = {}
        self._current: int | None = None
        self._stop = False
        self._worker = threading.Thread(target=self._loop, daemon=True)
        self._worker.start()

    def submit(self, cfg: dict) -> int:
        with self._cv:
            tid = self._next_id
            self._next_id += 1
            self._configs[tid] = cfg
            self._queue.append(tid)
            self._cv.notify()
        return tid

    def status(self) -> dict:
        with self._lock:
            return {"current": self._current, "queue": list(self._queue)}

    def get(self, tid: int) -> dict | None:
        with self._lock:
            if tid not in self._configs:
                return None
            out = {"id": tid, "config": self._configs[tid]}
            if tid in self._results:
                out["result"] = self._results[tid]
            return out

    def delete(self, tid: int) -> bool:
        """Remove a queued task, or cancel the RUNNING one via the
        canceller hook (reference handleDeleteOneTask,
        lightning.go:482-515: the running task's context is cancelled;
        queued tasks are removed from the list). Finished/unknown ids
        return False -> 404."""
        cancel = cfg = None
        with self._lock:
            if tid in self._queue:
                self._queue.remove(tid)
                self._configs.pop(tid, None)
                return True
            if tid == self._current and self._canceller is not None:
                cancel = self._canceller
                cfg = self._configs.get(tid)
        if cancel is not None:
            cancel(tid, cfg)  # outside the lock: the worker must finish
            return True
        return False

    def move_to_front(self, tid: int) -> bool:
        """Queue-jump a queued task (reference ConfigList.MoveToFront,
        configlist.go — configlist_test.go:107-132: idempotent, unknown
        ids return False, order of the others is preserved)."""
        with self._lock:
            if tid not in self._queue:
                return False
            self._queue.remove(tid)
            self._queue.insert(0, tid)
            return True

    def move_to_back(self, tid: int) -> bool:
        with self._lock:
            if tid not in self._queue:
                return False
            self._queue.remove(tid)
            self._queue.append(tid)
            return True

    def shutdown(self) -> None:
        with self._cv:
            self._stop = True
            self._cv.notify()
        self._worker.join(timeout=10)

    def wait_idle(self, timeout: float = 60.0) -> bool:
        """Test helper: block until the queue drains and no task runs."""
        import time

        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if not self._queue and self._current is None:
                    return True
            time.sleep(0.05)
        return False

    def _loop(self) -> None:
        while True:
            with self._cv:
                while not self._queue and not self._stop:
                    self._cv.wait(timeout=1.0)
                if self._stop:
                    return
                tid = self._queue.pop(0)
                self._current = tid
                cfg = self._configs[tid]
            try:
                res = self._runner(tid, cfg)
            except Exception as exc:  # a failed task must not kill the server
                log.exception("task %d failed", tid)
                res = {"ok": False, "error": str(exc)}
            with self._lock:
                self._results[tid] = res
                self._current = None


def pipeline_runner(tid: int, cfg_dict: dict) -> dict:
    """Default runner: one Restorer.run per submitted config, sharing the
    process-wide Spark session (SparkSession.builder.getOrCreate reuses)."""
    from tidb_lightning_spark.config import Config
    from tidb_lightning_spark.pipeline import Restorer
    from tidb_lightning_spark.session import get_spark

    cfg = Config.from_toml(
        cfg_dict.get("config"),
        source_dir=cfg_dict.get("source"),
        target_dir=cfg_dict["target"],
        no_schema=cfg_dict.get("no_schema"),
        strict_sql_mode=cfg_dict.get("strict"),
        checksum=cfg_dict.get("checksum"),
    )
    spark = get_spark(app_name="tls-server")
    # tag every job this task submits so DELETE /tasks/<id> can cancel it
    # from another thread (reference: per-task context cancel,
    # lightning.go:482-515); interruptOnCancel kills in-flight tasks too
    spark.sparkContext.setJobGroup(
        f"tls-task-{tid}", f"spark-lightning task {tid}", interruptOnCancel=True
    )
    try:
        report = Restorer(spark, cfg).run()
    finally:
        spark.sparkContext.setJobGroup("", "")
    return {
        "ok": report.ok,
        "seconds": round(report.seconds, 3),
        "tables": [vars(t) for t in report.tables],
    }


# minimal progress page (reference lightning/web: task progress dashboard).
# Static HTML + fetch polling — no build step, no assets, works with curl'd
# endpoints only.
_WEB_PAGE = """<!doctype html>
<html><head><meta charset="utf-8"><title>spark-lightning</title>
<style>
 body{font-family:system-ui,sans-serif;margin:2rem;max-width:44rem}
 .bar{background:#eee;border-radius:4px;height:1.4rem;overflow:hidden}
 .fill{background:#4a90d9;height:100%;width:0%;transition:width .5s}
 table{border-collapse:collapse;margin-top:1rem;width:100%}
 td,th{border:1px solid #ddd;padding:.3rem .6rem;text-align:left;
       font-size:.9rem}
 #err{color:#b00}
</style></head><body>
<h2>spark-lightning import progress</h2>
<div class="bar"><div class="fill" id="fill"></div></div>
<p id="line">loading&hellip;</p><p id="err"></p>
<table id="tbl"></table>
<script>
async function tick(){
  try{
    const p = await (await fetch('/progress/task')).json();
    const t = await (await fetch('/tasks')).json();
    const tb = await (await fetch('/progress/tables')).json();
    const pct = p.bytes_total ? (100*p.bytes_done/p.bytes_total) : 0;
    document.getElementById('fill').style.width = pct.toFixed(1)+'%';
    document.getElementById('line').textContent =
      `${p.status??'idle'} — ${p.tables_done??0}/${p.tables_total??0} tables, `+
      `${((p.bytes_done??0)/1048576).toFixed(1)}/`+
      `${((p.bytes_total??0)/1048576).toFixed(1)} MiB (${pct.toFixed(0)}%), `+
      `${p.speed_mib_s??0} MiB/s, ETA ${p.eta_s??'-'} s`+
      (p.current ? `, importing ${p.current}` : '');
    const esc = s => String(s).replace(/[&<>]/g,
      c => ({'&':'&amp;','<':'&lt;','>':'&gt;'}[c]));
    const rows = Object.entries(tb).map(([k,v]) =>
      `<tr><td>${esc(k)}</td><td>${esc(v.status??'-')}</td>`+
      `<td>${v.rows??'-'}</td></tr>`).join('');
    document.getElementById('tbl').innerHTML =
      '<tr><th>table</th><th>status</th><th>rows</th></tr>'+
      (rows || '<tr><td colspan=3>no checkpoints yet</td></tr>')+
      `<tr><td colspan=3>queue — current: ${t.current??'-'} | queued: `+
      `${(t.queue||[]).join(', ')||'-'}</td></tr>`;
    document.getElementById('err').textContent='';
  }catch(e){document.getElementById('err').textContent='poll failed: '+e;}
}
tick(); setInterval(tick, 2000);
</script></body></html>
"""


class _Handler(BaseHTTPRequestHandler):
    server_version = "tls-status/1"
    queue: TaskQueue  # set on the server class
    target_dir: str | None

    # ---- plumbing ----------------------------------------------------
    def log_message(self, fmt, *args):  # route to logging, not stderr
        log.debug("%s " + fmt, self.address_string(), *args)

    def _json(self, code: int, obj) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _error(self, code: int, msg: str) -> None:
        self._json(code, {"error": msg})

    def _read_body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b"{}"
        return json.loads(raw or b"{}")

    @property
    def _pause_flag(self) -> str | None:
        t = self.server.target_dir  # type: ignore[attr-defined]
        return os.path.join(t, "_tls_pause") if t else None

    # ---- GET ---------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802
        url = urlparse(self.path)
        q = self.server.queue  # type: ignore[attr-defined]
        if url.path == "/metrics":
            body = metrics.REGISTRY.render().encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain; version=0.0.4")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif url.path == "/tasks":
            self._json(200, q.status())
        elif url.path.startswith("/tasks/"):
            try:
                tid = int(url.path.split("/")[2])
            except (ValueError, IndexError):
                return self._error(400, "invalid task ID")
            task = q.get(tid)
            self._json(200, task) if task else self._error(404, "task not found")
        elif url.path == "/progress/task":
            self._json(200, metrics.get_progress())
        elif url.path == "/progress/table":
            name = parse_qs(url.query).get("t", [""])[0]
            self._progress_table(name)
        elif url.path == "/progress/tables":
            self._progress_tables()
        elif url.path == "/pause":
            flag = self._pause_flag
            self._json(200, {"paused": bool(flag and os.path.exists(flag))})
        elif url.path == "/loglevel":
            lvl = logging.getLevelName(logging.getLogger().getEffectiveLevel())
            self._json(200, {"level": lvl.lower()})
        elif url.path in ("/", "/web", "/web/"):
            body = _WEB_PAGE.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            self._error(404, "not found")

    def _table_records(self) -> list | None:
        """(db, table, record) of every checkpointed table, or None when
        no target dir is configured."""
        t = self.server.target_dir  # type: ignore[attr-defined]
        if not t:
            return None
        from tidb_lightning_spark.checkpoints import open_checkpoint_store

        try:
            return list(open_checkpoint_store(t, driver="auto").tables())
        except (OSError, ValueError):
            return []

    def _progress_table(self, name: str) -> None:
        recs = self._table_records()
        if recs is None:
            return self._error(404, "no target dir configured")
        from tidb_lightning_spark.checkpoints import STATUS, CheckpointStore

        # accept both plain db.tbl and the store's backticked `db`.`tbl`
        entry = next(
            (rec for db, tbl, rec in recs
             if name in (f"{db}.{tbl}", CheckpointStore.table_key(db, tbl))),
            None,
        )
        if entry is None:
            return self._error(404, f"table {name!r} not found")
        if isinstance(entry, dict) and isinstance(entry.get("status"), int):
            names = {v: k for k, v in STATUS.items()}
            entry = {**entry, "status": names.get(
                entry["status"], entry["status"])}
        self._json(200, entry)

    def _progress_tables(self) -> None:
        """All tables' checkpoint status in one call — feeds the per-table
        rows of the web page (the reference web UI's table list,
        lightning/web/progress.go)."""
        from tidb_lightning_spark.checkpoints import STATUS

        names = {v: k for k, v in STATUS.items()}
        out = {}
        for db, tbl, entry in self._table_records() or []:
            if not isinstance(entry, dict):
                continue
            st = entry.get("status")
            out[f"{db}.{tbl}"] = {
                "status": names.get(st, st) if isinstance(st, int) else st,
                "rows": (entry.get("staged") or {}).get("rows")
                if entry.get("staged")
                else entry.get("rows"),
            }
        self._json(200, out)

    # ---- POST/PUT/DELETE --------------------------------------------
    def do_POST(self) -> None:  # noqa: N802
        if urlparse(self.path).path not in ("/tasks", "/tasks/"):
            return self._error(404, "not found")
        try:
            cfg = self._read_body()
        except ValueError:
            return self._error(400, "invalid JSON body")
        if not isinstance(cfg, dict) or "target" not in cfg:
            return self._error(400, "config must be a JSON object with 'target'")
        tid = self.server.queue.submit(cfg)  # type: ignore[attr-defined]
        self._json(200, {"id": tid})

    def do_PUT(self) -> None:  # noqa: N802
        path = urlparse(self.path).path
        if path == "/pause":
            flag = self._pause_flag
            if not flag:
                return self._error(404, "no target dir configured")
            open(flag, "w").close()
            log.info("progress paused")
            self._json(200, {})
        elif path == "/resume":
            flag = self._pause_flag
            if flag and os.path.exists(flag):
                os.remove(flag)
            log.info("progress resumed")
            self._json(200, {})
        elif path == "/loglevel":
            try:
                lvl = self._read_body().get("level", "")
                logging.getLogger().setLevel(lvl.upper())
            except (ValueError, TypeError):
                return self._error(400, "invalid log level")
            self._json(200, {"level": lvl.lower()})
        else:
            self._error(404, "not found")

    def do_DELETE(self) -> None:  # noqa: N802
        path = urlparse(self.path).path
        if path in ("/tasks", "/tasks/"):
            # lightning_test.go:289-304: a DELETE without a task id is a
            # 400 (invalid id), not a 404
            return self._error(400, "invalid task ID")
        if not path.startswith("/tasks/"):
            return self._error(404, "not found")
        try:
            tid = int(path.split("/")[2])
        except (ValueError, IndexError):
            return self._error(400, "invalid task ID")
        ok = self.server.queue.delete(tid)  # type: ignore[attr-defined]
        self._json(200, {}) if ok else self._error(404, "task ID not found")

    def do_PATCH(self) -> None:  # noqa: N802
        """PATCH /tasks/<id>/front|back (reference handlePatchOneTask,
        lightning.go:517-546): reorder the pending queue; unknown verbs
        are 400, unknown/non-queued ids 404."""
        parts = urlparse(self.path).path.strip("/").split("/")
        if len(parts) != 3 or parts[0] != "tasks":
            return self._error(404, "not found")
        try:
            tid = int(parts[1])
        except ValueError:
            return self._error(400, "invalid task ID")
        q = self.server.queue  # type: ignore[attr-defined]
        if parts[2] == "front":
            ok = q.move_to_front(tid)
        elif parts[2] == "back":
            ok = q.move_to_back(tid)
        else:
            return self._error(400, "unknown patch action")
        self._json(200, {}) if ok else self._error(404, "task ID not found")


class StatusServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr: tuple[str, int], queue: TaskQueue,
                 target_dir: str | None = None):
        super().__init__(addr, _Handler)
        self.queue = queue
        self.target_dir = target_dir


def pipeline_canceller(tid: int, cfg_dict: dict | None) -> None:
    """Abort a running pipeline task two ways at once: cancel its Spark
    job group (kills in-flight stages) AND write the target's
    `_tls_cancel` flag, which the pipeline's Pauser consumes at the next
    commit-unit boundary — so driver-side work between jobs and the
    retry wrapper can't resurrect the task. Checkpoints make a
    resubmitted task resume from the last committed engine."""
    if cfg_dict and cfg_dict.get("target"):
        try:
            os.makedirs(cfg_dict["target"], exist_ok=True)
            open(os.path.join(cfg_dict["target"], "_tls_cancel"), "w").close()
        except OSError:
            log.warning("could not write cancel flag for task %d", tid)
    from tidb_lightning_spark.session import get_spark

    get_spark(app_name="tls-server").sparkContext.cancelJobGroup(
        f"tls-task-{tid}"
    )


def serve(addr: str, target_dir: str | None = None, runner=None) -> None:
    """Blocking server-mode entry (cli serve). addr is 'host:port'."""
    host, _, port = addr.rpartition(":")
    queue = TaskQueue(
        runner or pipeline_runner,
        canceller=None if runner else pipeline_canceller,
    )
    srv = StatusServer((host or "0.0.0.0", int(port)), queue, target_dir)
    log.info("status server listening on %s", addr)
    try:
        srv.serve_forever()
    finally:
        queue.shutdown()
        srv.server_close()
