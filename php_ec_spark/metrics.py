"""Runtime metrics / observability (SURVEY §2 "Statistics / metrics",
step 9 ops parity).

Reference surface being re-expressed:

- ``incrStat`` counters, group→name→int, kept inside the engine and
  reported at shutdown/save (CorrelationEngine.php:790-796, 179-384).
- EPS self-measurement: a 3600-slot 1-second ring buffer with
  ``calcLoad()`` over the last 60/900/3600 s (src/Counter.php:19-157,
  CorrelationEngine.php:802-813).

Spark-native rendering: metrics ride the EXISTING jobs via ``df.observe``
(aggregates evaluated inline with whatever action runs — no extra pass
over the data, exactly what a scan-side counter costs the reference), and
a :class:`EngineMetrics` ``StreamingQueryListener`` accumulates per-batch
progress — Spark already measures input/processed rows per second per
micro-batch, so the ring buffer becomes a bounded progress history with
``calc_load`` horizons computed over it.

Batch stat SNAPSHOT queries (per-type seen counts, histograms, EPS
windows) live in queries_relational/queries_cep — this module is the
LIVE path.
"""

from __future__ import annotations

import time
from collections import deque
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

#: Reference calcLoad horizons, seconds (Counter.php / management server)
LOAD_HORIZONS = (60, 900, 3600)


def engine_metric_exprs(
    outcomes: Sequence[str] = (
        "completed", "timeout", "progress", "final", "scheduled",
    ),
) -> list[Column]:
    """incrStat-style aggregate expressions for an EMISSION stream:
    total + per-outcome counts + event-time bounds (the counters the
    reference bumps in handleEmit, CorrelationEngine.php:384)."""
    exprs = [
        F.count(F.lit(1)).alias("n_emissions"),
        F.min("fire_ts").alias("first_fire_ts"),
        F.max("fire_ts").alias("last_fire_ts"),
    ]
    for o in outcomes:
        exprs.append(
            F.sum(F.when(F.col("outcome") == o, 1).otherwise(0)).alias(f"n_{o}")
        )
    return exprs


def event_metric_exprs() -> list[Column]:
    """'seen' side counters for an event stream (CorrelationEngine.php:179)."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("max_ts"),
        F.approx_count_distinct("event_type").alias("n_event_types"),
    ]


def observe_batch(df: DataFrame, exprs: Optional[Sequence[Column]] = None,
                  name: str = "phpec") -> tuple[DataFrame, Observation]:
    """Attach engine metrics to a BATCH DataFrame; metrics materialize with
    the caller's own action (no extra job). Returns (df, observation) —
    read ``observation.get`` after the action."""
    obs = Observation(name)
    cols = list(exprs) if exprs is not None else event_metric_exprs()
    return df.observe(obs, *cols), obs


def observe_stream(df: DataFrame, exprs: Optional[Sequence[Column]] = None,
                   name: str = "phpec") -> DataFrame:
    """Attach engine metrics to a STREAMING DataFrame; values surface in
    every micro-batch's progress event (pair with :class:`EngineMetrics`)."""
    cols = list(exprs) if exprs is not None else engine_metric_exprs()
    return df.observe(name, *cols)


def key_skew(events: DataFrame, key_col: str, top_n: int = 5) -> dict:
    """Hot-key telemetry for the stateful paths (one aggregation job).

    The state machine's degradation unit is the KEY, not the partition —
    a key never splits across tasks, so a key holding half the rows caps
    parallelism at ~2× regardless of partition count (batch.py's
    documented single-hot-key mode). Returns ``{"total", "top":
    [(key, n), ...], "max_share"}`` where ``max_share`` is the hottest
    key's row fraction. The input is scanned ONCE: per-key counts persist
    (bounded by key cardinality, far smaller than the events), and both
    the total and the top-N derive from that cached frame.
    """
    grouped = (
        events.groupBy(key_col).agg(F.count(F.lit(1)).alias("n")).persist()
    )
    try:
        total = grouped.agg(F.sum("n").alias("t")).collect()[0]["t"] or 0
        top = [
            (r[key_col], r["n"])
            for r in grouped.orderBy(F.col("n").desc(), F.col(key_col))
            .limit(top_n)
            .collect()
        ]
    finally:
        grouped.unpersist()
    return {
        "total": total,
        "top": top,
        "max_share": (top[0][1] / total) if top and total else 0.0,
    }


def warn_if_skewed(
    events: DataFrame, key_col: str, warn_ratio: float = 0.3
) -> dict:
    """Run :func:`key_skew` and emit a ``UserWarning`` when the hottest key
    exceeds ``warn_ratio`` of all rows. Costs one aggregation job — call it
    on a sample or at onboarding time, not per micro-batch. Mitigations in
    the warning: keyless aggregates can salt (``layout.with_salt`` /
    ``salted_agg``); keyed correlation semantics require per-key serial
    order, so the fix is a finer correlation key or rule redesign."""
    skew = key_skew(events, key_col)
    if skew["max_share"] >= warn_ratio:
        import warnings

        hot, n = skew["top"][0]
        warnings.warn(
            f"correlation key {key_col}={hot!r} holds {n}/{skew['total']} rows "
            f"({skew['max_share']:.0%}) — a single key never splits across "
            "tasks, so this caps the stateful path's parallelism. Counter-"
            "shaped rules (continuous, no timeout/trim, emit_final) compile "
            "to skew-neutral two-stage aggregates automatically (the "
            "'keyed-counter' strategy of engine.strategies()); for other "
            "commutative aggregates "
            "use layout.with_salt/salted_agg; for keyed correlation "
            "semantics pick a finer key or split the rule.",
            UserWarning,
            stacklevel=2,
        )
    return skew


class EngineMetrics(StreamingQueryListener):
    """Live engine metrics: Spark's per-batch progress stream folded into
    the reference's Counter/stat shape.

    Register with ``spark.streams.addListener(metrics)``. Progress history
    is a bounded ring (like the 3600-slot Counter);
    :meth:`calc_load` derives events/sec over the trailing horizons and
    :meth:`stats` aggregates observed incrStat counters across batches.
    """

    def __init__(self, history: int = 3600) -> None:
        self._progress: deque = deque(maxlen=history)

    # -- listener hooks ---------------------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        observed = {}
        for obs_name, row in (p.observedMetrics or {}).items():
            observed[obs_name] = row.asDict() if hasattr(row, "asDict") else dict(row)
        self._progress.append(
            {
                "wall_ts": time.time(),
                "query": p.name,
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows or 0,
                "input_rows_per_second": p.inputRowsPerSecond or 0.0,
                "processed_rows_per_second": p.processedRowsPerSecond or 0.0,
                "observed": observed,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- Counter.php parity ----------------------------------------------

    def calc_load(self, horizons: Sequence[int] = LOAD_HORIZONS) -> dict[int, float]:
        """events/sec over each trailing wall-clock horizon — the
        reference's calcLoad(60/900/3600) from its 1-second ring buffer.

        The divisor is the COVERED span, not the nominal horizon: the
        progress ring holds N micro-batches, not N seconds, so early in a
        query's life (or under fast triggers that roll the ring) the
        retained history can span far less than the horizon — dividing by
        the full horizon would then under-report the rate by the coverage
        ratio (the reference's per-second ring covers its horizons by
        construction, so rows/h is exact there)."""
        now = time.time()
        out = {}
        for h in horizons:
            in_window = [
                p for p in self._progress if p["wall_ts"] >= now - h
            ]
            rows = sum(p["num_input_rows"] for p in in_window)
            covered = (
                min(h, now - min(p["wall_ts"] for p in in_window))
                if in_window
                else h
            )
            # 1-second floor = the reference ring's granularity (avoids a
            # single fresh burst batch reading as rows/epsilon)
            out[h] = rows / max(covered, 1.0)
        return out

    def stats(self) -> dict[str, int]:
        """Observed incrStat counters summed across the retained history
        (numeric metrics only; ts bounds are skipped)."""
        agg: dict[str, int] = {}
        for p in self._progress:
            for metrics in p["observed"].values():
                for k, v in metrics.items():
                    if isinstance(v, (int, float)) and not isinstance(v, bool):
                        agg[k] = agg.get(k, 0) + v
        return agg

    @property
    def last_progress(self) -> Optional[dict]:
        return self._progress[-1] if self._progress else None


class ManagementServer:
    """Management/status HTTP endpoint (S13) — the reference runs a small
    HTTP server whose index page renders scheduler state: running mode,
    engine statistics, load, input/action process status
    (Management/Server.php:17-60, Actions/Index.php). Spark already ships
    the deep UI; this endpoint serves the php-ec-shaped summary for the
    dashboards/health checks a migrating deployment already points at it.

    stdlib-only (ThreadingHTTPServer on a daemon thread):

    - ``GET /status`` → JSON: uptime, calcLoad horizons, summed incrStat
      counters, last micro-batch progress, active streaming queries.
    - ``GET /``       → minimal HTML rendering of the same (the reference
      serves an HTML index too).

    Bind ``port=0`` to let the OS pick (returned by :meth:`start`); the
    reference reads HOST/PORT from env, so the caller decides policy.
    """

    def __init__(
        self,
        metrics: EngineMetrics,
        spark=None,
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self.metrics = metrics
        self.spark = spark
        self.host = host
        self.port = port
        self._httpd = None
        self._thread = None
        self._started_at = time.time()

    # -- payload ----------------------------------------------------------
    def status(self) -> dict:
        queries = []
        if self.spark is not None:
            for q in self.spark.streams.active:
                queries.append(
                    {"name": q.name, "id": str(q.id), "isActive": q.isActive}
                )
        return {
            "state": "RUNNING",
            "uptime_msec": int((time.time() - self._started_at) * 1000),
            "load": {str(h): v for h, v in self.metrics.calc_load().items()},
            "statistics": self.metrics.stats(),
            "last_progress": self.metrics.last_progress,
            "queries": queries,
        }

    # -- lifecycle --------------------------------------------------------
    def start(self) -> int:
        import json as _json
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # no stderr chatter per request
                pass

            def _send(self, code: int, ctype: str, body: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (http.server API)
                if self.path == "/status":
                    body = _json.dumps(server.status(), default=str).encode()
                    self._send(200, "application/json", body)
                elif self.path == "/":
                    # stat keys, values, and query names are user-defined
                    # strings — escape before interpolating into markup so
                    # a name containing '<' can't break or inject into a
                    # dashboard-embedded status page
                    from html import escape as _esc

                    s = server.status()
                    rows = "".join(
                        f"<tr><td>{_esc(str(k))}</td><td>{_esc(str(v))}</td></tr>"
                        for k, v in sorted(s["statistics"].items())
                    )
                    load = " / ".join(
                        f"{h}s: {v:.2f}" for h, v in sorted(
                            ((int(k), v) for k, v in s["load"].items())
                        )
                    )
                    html = (
                        "<html><head><title>spark-ec status</title></head><body>"
                        f"<h1>spark-ec</h1><p>state: {_esc(str(s['state']))} — uptime "
                        f"{s['uptime_msec']} ms</p><p>load (events/s): {load}</p>"
                        f"<h2>statistics</h2><table>{rows}</table>"
                        f"<h2>queries</h2><pre>{_esc(_json.dumps(s['queries']))}</pre>"
                        "</body></html>"
                    ).encode()
                    self._send(200, "text/html", html)
                else:
                    self._send(404, "text/plain", b"not found")

        import threading

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
