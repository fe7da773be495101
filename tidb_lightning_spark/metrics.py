"""Prometheus-format progress metrics (M6).

Mirrors the part of the reference's metric surface
(lightning/metric/metric.go:49-199) that the pipeline emits: counter vecs
``lightning_tables{state,result}``, ``lightning_chunks{state}``,
``lightning_bytes{state}`` and the ``lightning_import_seconds`` histogram
(same 0.125*2^k buckets, metric.go:101-108). The reference's
``lightning_engines`` and ``lightning_idle_workers`` are not declared:
Spark schedules engines and workers, so nothing here would emit them.
Exposed in the Prometheus text exposition format by
:func:`Registry.render`, which
``GET /metrics`` on the status server serves (lightning.go:129 uses
promhttp; here the format is emitted directly, no client library needed).

Thread-safe: the pipeline worker thread increments while the HTTP server
thread renders.
"""

from __future__ import annotations

import threading
from typing import Iterable

# label states mirroring metric.go:23-46 (the ones the pipeline emits)
TABLE_STATE_COMPLETED = "completed"
TABLE_RESULT_SUCCESS = "success"
TABLE_RESULT_FAILURE = "failure"
CHUNK_STATE_FINISHED = "finished"
BYTE_STATE_ESTIMATED = "estimated"
BYTE_STATE_FINISHED = "finished"


def _fmt_labels(names: tuple[str, ...], values: tuple[str, ...]) -> str:
    if not names:
        return ""
    inner = ",".join(f'{n}="{v}"' for n, v in zip(names, values))
    return "{" + inner + "}"


def _fmt_value(v: float) -> str:
    # Prometheus prints integers without a trailing .0
    return str(int(v)) if float(v).is_integer() else repr(float(v))


class _Vec:
    """A labeled metric family: one value per label-value tuple."""

    def __init__(self, name: str, help_: str, kind: str, labels: Iterable[str]):
        self.name = name
        self.help = help_
        self.kind = kind  # "counter" | "gauge"
        self.labels = tuple(labels)
        self._values: dict[tuple[str, ...], float] = {}
        self._lock = threading.Lock()

    def _key(self, label_values: tuple[str, ...]) -> tuple[str, ...]:
        if len(label_values) != len(self.labels):
            raise ValueError(
                f"{self.name}: expected labels {self.labels}, got {label_values}"
            )
        return tuple(str(v) for v in label_values)

    def inc(self, *label_values: str, by: float = 1.0) -> None:
        k = self._key(label_values)
        with self._lock:
            self._values[k] = self._values.get(k, 0.0) + by

    def set(self, *label_values: str, value: float) -> None:
        k = self._key(label_values)
        with self._lock:
            self._values[k] = float(value)

    def get(self, *label_values: str) -> float:
        return self._values.get(self._key(label_values), 0.0)

    def render(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} {self.kind}"]
        with self._lock:
            for k in sorted(self._values):
                out.append(
                    f"{self.name}{_fmt_labels(self.labels, k)} "
                    f"{_fmt_value(self._values[k])}"
                )
        return out


class Histogram:
    """Cumulative-bucket histogram (exposition: _bucket/_sum/_count)."""

    def __init__(self, name: str, help_: str, buckets: list[float]):
        self.name = name
        self.help = help_
        self.buckets = sorted(buckets)
        self._counts = [0] * (len(self.buckets) + 1)  # +Inf last
        self._sum = 0.0
        self._lock = threading.Lock()

    def observe(self, v: float) -> None:
        with self._lock:
            self._sum += v
            for i, b in enumerate(self.buckets):
                if v <= b:
                    self._counts[i] += 1
                    break
            else:
                self._counts[-1] += 1

    def render(self) -> list[str]:
        out = [f"# HELP {self.name} {self.help}",
               f"# TYPE {self.name} histogram"]
        with self._lock:
            cum = 0
            for b, c in zip(self.buckets, self._counts):
                cum += c
                out.append(f'{self.name}_bucket{{le="{_fmt_value(b)}"}} {cum}')
            cum += self._counts[-1]
            out.append(f'{self.name}_bucket{{le="+Inf"}} {cum}')
            out.append(f"{self.name}_sum {_fmt_value(round(self._sum, 6))}")
            out.append(f"{self.name}_count {cum}")
        return out


def exponential_buckets(start: float, factor: float, count: int) -> list[float]:
    """prometheus.ExponentialBuckets (metric.go:107 uses (0.125, 2, 6))."""
    return [start * factor**i for i in range(count)]


class Registry:
    def __init__(self):
        self._metrics: list[_Vec | Histogram] = []
        self._lock = threading.Lock()

    def counter(self, name: str, help_: str, labels: Iterable[str] = ()) -> _Vec:
        m = _Vec(name, help_, "counter", labels)
        with self._lock:
            self._metrics.append(m)
        return m

    def gauge(self, name: str, help_: str, labels: Iterable[str] = ()) -> _Vec:
        m = _Vec(name, help_, "gauge", labels)
        with self._lock:
            self._metrics.append(m)
        return m

    def histogram(self, name: str, help_: str, buckets: list[float]) -> Histogram:
        m = Histogram(name, help_, buckets)
        with self._lock:
            self._metrics.append(m)
        return m

    def render(self) -> str:
        with self._lock:
            metrics = list(self._metrics)
        lines: list[str] = []
        for m in metrics:
            lines.extend(m.render())
        return "\n".join(lines) + "\n"


REGISTRY = Registry()

# the reference's families, same names/labels (metric.go:71-97,101-108)
TABLES = REGISTRY.counter(
    "lightning_tables", "count number of tables processed", ["state", "result"]
)
CHUNKS = REGISTRY.counter(
    "lightning_chunks", "count number of chunks processed", ["state"]
)
BYTES = REGISTRY.counter("lightning_bytes", "count of total bytes", ["state"])
IMPORT_SECONDS = REGISTRY.histogram(
    "lightning_import_seconds",
    "time needed to import a table",
    exponential_buckets(0.125, 2, 6),
)

# driver-side task progress snapshot for GET /progress/task
# (reference web.MarshalTaskProgress, lightning.go:562-571); the pipeline
# run loop overwrites it after every table.
_PROGRESS_LOCK = threading.Lock()
_PROGRESS: dict = {"status": "idle"}


def set_progress(**fields) -> None:
    with _PROGRESS_LOCK:
        _PROGRESS.clear()
        _PROGRESS.update(fields)


def update_progress(**fields) -> None:
    with _PROGRESS_LOCK:
        _PROGRESS.update(fields)


def get_progress() -> dict:
    with _PROGRESS_LOCK:
        return dict(_PROGRESS)
