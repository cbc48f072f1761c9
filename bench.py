"""Benchmark harness: runs the headline queries and prints the compact
headline record as the FINAL stdout JSON line (preceded by one bulky
exec-metrics JSON line, also appended to BENCH_METRICS.jsonl).

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default all cores)
       SPARK_GRAFT_BENCH_ITERS (default 5 interleaved rounds)

Each headline query is materialized via a count-ish action (``collect`` on
already-small results, ``count`` otherwise is avoided — collect forces full
result production, which is what a user would pay for).

The record is raw min-of-N wall time plus load-independent plan counters
(per-query shuffle bytes and task counts, digested into ``plan_fp``). Wall
time is only compared between runs at the same ``default_parallelism``;
plan changes are read off the counters, which no box load can move.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _measure_pure_eps(iters: int) -> float:
    """NOISE-FREE companion metric (round-5 verdict ask #3): the stateful
    hot loop measured pure-Python single-thread — identical workload to
    tests/test_engine_perf.py's floor measurement. Runs BEFORE the
    SparkSession exists so the 32-thread JVM (GC/JIT threads) can't steal
    cycles from the single-thread measurement — measured in-JVM-shadow it
    reads ~35% low (91k vs 138k on the same box, same code).
    """
    import pandas as pd

    from php_ec_spark.engine.batch import _make_partition_runner
    from php_ec_spark.rules import match_single_continuously, sequence_rule

    rules = [
        match_single_continuously("roll", ["purchase"], key="user_id",
                                  chain_limit=5, emit_final=True),
        sequence_rule("seq", ["signup", "click", "purchase"], key="user_id",
                      timeout="PT12H"),
        match_single_continuously("gap", ["*"], key="user_id", timeout="PT6H"),
    ]
    n = 60_000
    types = ("signup", "click", "purchase", "view")
    rows = [
        (f"u{i % 200}", i, i * 1_000_000_000, types[(i * 7) % 4],
         float(i % 50))
        for i in range(n)
    ]
    rows.sort(key=lambda r: (r[0], r[2], r[1]))
    pdf = pd.DataFrame(
        rows, columns=["__key", "event_id", "ts", "event_type", "value"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns")
    runner = _make_partition_runner(rules, False)
    list(runner([pdf]))  # interning/branch warmup
    eps_pure = 0.0
    for _ in range(max(iters, 3)):
        t0 = time.perf_counter()
        list(runner([pdf]))
        eps_pure = max(eps_pure, n / (time.perf_counter() - t0))
    print(f"# state-machine pure-Python: {eps_pure:,.0f} events/s "
          "(single-thread, pre-JVM)", file=sys.stderr)
    return eps_pure


def byte_bucket(x: int) -> int:
    """The log-quantized bucket (``round(256·log2(x+1))``, about 0.27%
    wide) that ``plan_fingerprint`` digests shuffle bytes as."""
    import math

    return round(256 * math.log2(x + 1))


def plan_fingerprint(metrics: "dict | None") -> "str | None":
    """Load-independent plan fingerprint for the compact headline line
    (round-16 verdict #1): first 12 hex of md5 over the sorted per-query
    ``(shuffle_read, shuffle_write, tasks)`` triples — the byte metrics
    that are properties of the PLAN, not the measurement window. Same
    code + data ⇒ same fingerprint regardless of box load (r15→r16→judge
    runs were byte-identical across four differently-loaded sessions);
    a changed fingerprint means a plan changed (an extra exchange, a
    broadcast falling back to shuffle, an AQE flip) and the full
    per-query diff lives in BENCH_METRICS.jsonl via ``bench_trend
    --metrics``. Keys beyond the triple (spill, input, telemetry extras
    such as the jaccard candidate count) are deliberately excluded:
    spill varies with memory pressure and telemetry rides the same dict
    without being plan structure. None when the collector was disabled.

    Shuffle bytes enter the digest LOG-QUANTIZED (≈0.27%-relative
    buckets, ``round(256·log2(x+1))``): round 18's wider jaccard shuffle
    exposed ±45-byte COMPRESSED-size jitter between identical runs
    (lz4 framing is not byte-deterministic across task schedules), which
    flipped the raw-byte fp between two values and broke the
    "equal fp = zero drift" read. Sub-0.01%-relative codec noise now
    almost never moves a bucket, while any real byte regression (an
    extra exchange, a broadcast falling back — ≥ percents, usually ×s)
    always does; task counts stay exact. Residual: a byte count that
    sits within its jitter of a bucket boundary can still round either
    way, so two identical plans may rarely carry fps that differ by one
    bucket in one field — confirm a changed fp against the per-query
    bytes in the sidecar before calling it a plan change.
    """
    if not metrics:
        return None
    import hashlib

    basis = {
        name: [byte_bucket(m["shuffle_read"]),
               byte_bucket(m["shuffle_write"]), m["tasks"]]
        for name, m in metrics.items()
        # a PARTIAL block (hand-salvaged legacy artifact, truncated
        # fragment) is skipped rather than crashing the caller — a
        # fingerprint over defaulted values would never match anything
        # real anyway, and bench.py's own collector always emits the
        # full triple
        if m is not None
        and all(k in m for k in ("shuffle_read", "shuffle_write", "tasks"))
    }
    if not basis:
        return None
    blob = json.dumps(basis, sort_keys=True).encode()
    return hashlib.md5(blob).hexdigest()[:12]


def compute_deltas(
    timings: dict,
    eps: float,
    eps_pure: float,
    prev: "dict | None",
) -> dict:
    """Raw per-query and eps deltas vs the previous round's parsed
    artifact (``new / old - 1``). Callers pass only a ``prev`` taken at
    the same ``default_parallelism`` (see
    :func:`newest_parseable_artifact`): wall time from a different core
    count measures the box, not the code. Plan regressions are read off
    ``plan_fp`` and the sidecar's byte metrics, never off these deltas."""
    deltas: dict = {}
    if not prev:
        return deltas
    # `or {}`: a payload carrying "queries": null has the key, so a
    # .get default alone would hand the membership test a None
    prev_q = prev.get("queries") or {}
    for name, t in timings.items():
        if prev_q.get(name):
            deltas[name] = round(t / prev_q[name] - 1.0, 3)
    for field, cur in (("state_machine_eps", eps),
                       ("state_machine_eps_pure", eps_pure)):
        if prev.get(field):
            deltas[field] = round(cur / prev[field] - 1.0, 3)
    return deltas


def split_output(out: dict) -> "tuple[dict, dict | None]":
    """Split the full result dict into the compact FINAL stdout line and
    a separate bulky exec-metrics line.

    The driver captures only the last 2000 chars of stdout and parses
    the final JSON line; round 15's inline ``metrics`` block pushed that
    line to 3,973 chars and the committed artifact lost its totals
    entirely (``parsed: null``). The headline record must stay compact
    no matter how many queries carry metrics — the
    metrics travel on their own EARLIER stdout line (truncation there
    costs nothing: the durable copy is the BENCH_METRICS.jsonl sidecar).
    tests/test_bench_metrics.py pins the final line ≤ 1800 chars on a
    synthetic full-size run."""
    compact = dict(out)
    metrics = compact.pop("metrics", None)
    if metrics is None:
        # the documented "metrics: null = status-store probe failed"
        # signal must survive the split (round-16 ADVICE: popping the
        # key silently turned the deliberate null into mere absence) —
        # keep a compact marker instead of the bulky-or-null value
        compact["metrics_probe_failed"] = True
        return compact, None
    side = {
        "metric": "exec_metrics",
        "sf": out.get("sf"),
        # task counts and wall time are core-count-specific: readers
        # compare sidecar rows only at equal (sf, default_parallelism)
        "default_parallelism": out.get("default_parallelism"),
        "value": out.get("value"),
        "plan_fp": out.get("plan_fp"),
        "metrics": metrics,
    }
    return compact, side


def append_metrics_sidecar(side: dict, path: str) -> None:
    """Append one JSON line to the BENCH_METRICS.jsonl sidecar — the
    durable cross-round record of the load-independent plan metrics now
    that they no longer ride the (tail-truncated) driver artifact. The
    file is committed with the repo, so ``tools/bench_trend.py
    --metrics`` trends plan bytes across rounds from it.

    Every actor appends (builder, driver, judge — round-16 verdict #6),
    so the file grows monotonically without hygiene. Committed pruning
    policy: newest 8 entries per scale factor, trimmed with
    ``python tools/bench_trend.py --prune-sidecar=8`` whenever it
    drifts past that."""
    import datetime

    rec = {
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(
            timespec="seconds"
        )
    }
    rec.update(side)
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def newest_parseable_artifact(
    root: str, parallelism: int
) -> "tuple[str, dict] | None":
    """Newest ``BENCH_r*.json`` whose driver-parsed payload is usable for
    deltas — SKIPPING crippled artifacts (BENCH_r15.json's truncated
    tail left ``parsed: null``; taking the lexically-last file blindly
    silently killed ``delta_vs_prev`` for every later round) and
    artifacts whose ``default_parallelism`` differs from ``parallelism``
    or is missing (a ``local[4]`` run against a ``local[32]`` baseline
    reads −60% to −75% on every query from core count alone). Numeric
    round sort, so r9 orders before r13 even unpadded."""
    import re

    cands = []
    for f in os.listdir(root):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if m:
            cands.append((int(m.group(1)), f))
    for _, f in sorted(cands, reverse=True):
        try:
            with open(os.path.join(root, f)) as fh:
                parsed = json.load(fh).get("parsed")
            if (
                parsed
                and (parsed.get("queries") or parsed.get("value"))
                and parsed.get("default_parallelism") == parallelism
            ):
                return f, parsed
        except (OSError, ValueError, AttributeError):
            # unreadable, non-JSON, or non-dict shapes all mean "not a
            # usable baseline" — keep walking to an older artifact
            continue
    return None


class _ExecMetrics:
    """Load-independent per-query execution metrics off the JVM
    AppStatusStore (round-14 verdict #1): wall-clock on this box is
    hostage to invisible neighbor contention (three consecutive rounds
    committed non-quiet artifacts), but shuffle/input/spill BYTES and
    task counts are properties of the plan, not the window — an extra
    exchange or a broadcast falling back to shuffle shows as a byte jump
    no load can fake or hide. ``mark()`` snapshots the max stage id,
    ``delta()`` sums v1.StageData metrics over the stages the measured query
    submitted after it; both drain the listener bus first so a previous
    workload's in-flight stage events can't bleed across the boundary.

    Uses only public Spark surfaces (AppStatusStore backs the REST API /
    UI and exists in every session); any py4j signature drift disables
    the collector gracefully — the artifact then carries ``metrics:
    null`` instead of crashing the bench. Per-stage rows are subject to
    ``spark.ui.retainedStages`` (default 1000) — far above any single
    headline query here, noted in case one ever fans that wide."""

    FIELDS = (
        "shuffle_read", "shuffle_write", "spill_mem", "spill_disk",
        "input_bytes", "input_records", "output_bytes", "tasks", "stages",
    )

    def __init__(self, spark) -> None:
        self._ok = True
        try:
            sc = spark.sparkContext
            self._jssc = sc._jsc.sc()
            self._store = self._jssc.statusStore()
            jvm = sc._jvm
            # stageList(statuses, details, withSummaries, quantiles,
            # taskStatus) — empty statuses = all
            self._args = (
                jvm.java.util.ArrayList(), False, False,
                sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
            self._stages()  # probe the call shape once, up front
        except Exception as ex:  # noqa: BLE001 — degrade, don't crash
            self._disable(ex)

    def _disable(self, ex) -> None:
        if self._ok:
            print(f"# exec-metrics unavailable ({type(ex).__name__}: "
                  f"{ex}) — artifact will carry metrics=null",
                  file=sys.stderr)
        self._ok = False

    def _stages(self):
        return self._store.stageList(*self._args)

    def _drain(self) -> None:
        # AppStatusListener is fed by the async listener bus; without a
        # drain a just-finished stage may not be in the store yet (or a
        # PREVIOUS workload's stage may land inside the next window)
        try:
            self._jssc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — drain is best-effort
            pass

    def mark(self) -> int:
        """Max stage id currently known — the measurement window floor."""
        if not self._ok:
            return -1
        try:
            self._drain()
            st = self._stages()
            return max(
                (st.apply(i).stageId() for i in range(st.size())),
                default=-1,
            )
        except Exception as ex:  # noqa: BLE001
            self._disable(ex)
            return -1

    def delta(self, since: int) -> "dict | None":
        """Summed metrics over every stage submitted after ``since``."""
        if not self._ok:
            return None
        try:
            self._drain()
            st = self._stages()
            out = dict.fromkeys(self.FIELDS, 0)
            for i in range(st.size()):
                sd = st.apply(i)
                if sd.stageId() <= since:
                    continue
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill_mem"] += sd.memoryBytesSpilled()
                out["spill_disk"] += sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["output_bytes"] += sd.outputBytes()
                out["tasks"] += sd.numCompleteTasks()
                out["stages"] += 1
            return out
        except Exception as ex:  # noqa: BLE001
            self._disable(ex)
            return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
    # 1-min loadavg at start and end: a plain audit read, no gate and
    # no wait — the plan counters, not wall time, adjudicate changes
    load_start = round(os.getloadavg()[0], 2)
    eps_pure = _measure_pure_eps(iters)

    from php_ec_spark.catalog import all_queries
    from php_ec_spark.session import get_spark

    spark = get_spark(app_name="php-ec-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = {n: q for n, q in all_queries().items() if q.headline}

    # JVM/codegen/shuffle warmup so per-query numbers reflect steady state,
    # not first-job class loading (not counted in the reported total)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(20000)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    (
        li.withColumn("rn", F.row_number().over(w))
        .groupBy("l_returnflag")
        .count()
        .count()
    )
    # ...join codegen paths too (BroadcastHashJoin + SortMergeJoin JIT):
    # without this, the first join-heavy query pays ~1-2s of one-time
    # compilation that no steady-state deployment would see
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(20000)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), (orders.o_custkey % 25) == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("l_extendedprice"))
        .count()
    )
    li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey).count()
    # ...and the array-HOF / generate / semi-join shapes the dedup pipeline
    # compiles (transform+slice+array_join+array_distinct+explode_outer):
    # their first-compile costs ~8 s that no steady-state deployment pays
    from php_ec_spark.operators.dedup import with_shingles

    docs_w = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(500)
    sh_w = with_shingles(docs_w).select(
        F.col("doc_id").alias("doc"), F.explode_outer("shingles").alias("s")
    )
    (
        sh_w.join(
            sh_w.groupBy("s").count().filter("count <= 100"), "s", "left_semi"
        )
        .groupBy("doc")
        .count()
        .count()
    )
    # ...and the Python/Arrow workers (spark.python.worker.reuse keeps them
    # alive session-wide, so first-spawn cost is session setup, not query
    # cost — same bucket as JVM classloading above)
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").count()
    # ...and the parquet schema cache (session.read_parquet): a table's
    # first construction infers its schema in a Spark job, which would
    # otherwise land in round 1 only and make round 1's plan counters (and
    # so plan_fp) differ from later rounds'
    from php_ec_spark.session import load_tables

    load_tables(spark, sf_dir)
    print(f"# warmup: {time.perf_counter() - t0:.3f}s", file=sys.stderr)

    def clear_rdd_cache() -> None:
        # localCheckpoint()ed lineages (jaccard inverted index, cluster
        # propagation rounds, chain fixpoint rounds) stay pinned in the
        # block manager after their query finishes; dozens of benched
        # queries × iterations would stack gigabytes of dead cache and the
        # GC pressure bleeds into later measurements. A real deployment
        # runs one query per job — sweeping between queries measures that.
        from php_ec_spark.session import release_checkpoint_caches

        release_checkpoint_caches(spark)

    # stateful-path setup: the BASELINE comparison point (reference
    # claims "10M+ events/day" ≈ 116 events/s sustained; tests_adhoc/
    # speed_test.php measures a 3-rule in-process loop). Same shape here:
    # three state-machine rules over the full events table.
    from php_ec_spark.engine import correlate_state_machine
    from php_ec_spark.model import load_events
    from php_ec_spark.rules import match_single_continuously, sequence_rule

    events = load_events(spark, sf_dir)
    n_events = events.count()
    sm_rules = [
        match_single_continuously("roll", ["purchase"], key="user_id",
                                  chain_limit=5, emit_final=True),
        sequence_rule("seq", ["signup", "click", "purchase"], key="user_id",
                      timeout="PT12H"),
        match_single_continuously("gap", ["*"], key="user_id", timeout="PT6H"),
    ]
    # untimed warmup of the state-machine plan shape: the repartition→sort→
    # mapInPandas pipeline has its own whole-stage-codegen + Arrow-writer
    # compilation (~1.2 s one-time) that the generic warmup above does not
    # touch; with min-of-N a cold first run drags the reported eps ~25%
    # below steady state (the round-4 "regression" was exactly this —
    # measured: cold 1.9 s vs warm 0.45 s for the identical job).
    correlate_state_machine(events, sm_rules).count()

    # N measured iterations per query, INTERLEAVED (round-12 verdict #1):
    # round r times every headline query, then the state-machine path,
    # before round r+1 starts — so one query's N samples are spread
    # minutes apart across the whole bench window and a transient load
    # burst contaminates at most one sample of each instead of all N of
    # whichever query it landed on. Report the min: steady-state cost —
    # noisy-neighbor CPU swings single runs by 2-4× (the same jaccard job
    # measured 9.7s cold-window vs 2.2s steady across minutes); the min
    # is the reproducible number a tuned deployment would see. 5 rounds
    # because 3 repeatedly let one bad host window inflate a query 50-80%.
    order = sorted(headline)
    samples: dict[str, list[float]] = {name: [] for name in order}
    metric_samples: dict[str, list] = {name: [] for name in order}
    rows_of: dict[str, int] = {}
    sm_secs: list[float] = []
    sm_metrics: list = []
    em = _ExecMetrics(spark)

    for r in range(iters):
        for name in order:
            q = headline[name]
            # stage-id mark/delta straddles the timed window (both
            # outside it — the drain they do is not query cost); every
            # stage the query submits, including eager checkpoint jobs
            # inside operator construction, lands in its metrics
            m0 = em.mark()
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            n_rows = df.count()
            samples[name].append(time.perf_counter() - t0)
            metric_samples[name].append(em.delta(m0))
            # result determinism is part of the bench contract: a row
            # count that drifts between rounds would otherwise be
            # silently hidden (the artifact records one count next to a
            # min taken across all samples). An explicit raise, not
            # assert — `python -O` strips asserts, and this guard must
            # hold in any interpreter that runs the bench.
            if rows_of.setdefault(name, n_rows) != n_rows:
                raise RuntimeError(
                    f"{name}: row count drifted across rounds "
                    f"({rows_of[name]} -> {n_rows}) — nondeterministic "
                    "query result; bench mins are incomparable"
                )
            clear_rdd_cache()
        m0 = em.mark()
        t0 = time.perf_counter()
        correlate_state_machine(events, sm_rules).count()
        sm_secs.append(time.perf_counter() - t0)
        sm_metrics.append(em.delta(m0))
        print(f"# round {r + 1}/{iters}: "
              f"queries {sum(s[-1] for s in samples.values()):.1f}s",
              file=sys.stderr)

    timings = {name: round(min(samples[name]), 3) for name in order}
    total = sum(min(samples[name]) for name in order)

    # per-query exec metrics from the min-time sample (one run's
    # consistent snapshot; bytes are plan properties, so samples should
    # agree — a cross-round spread means AQE re-planned under pressure
    # and is worth a visible note, not a silent average)
    def pick_metrics(name: str, times: list, ms: list) -> "dict | None":
        if not any(ms):
            return None
        idx = times.index(min(times))
        chosen = ms[idx] if ms[idx] else next(m for m in ms if m)
        spread = {
            (m["shuffle_read"], m["shuffle_write"]) for m in ms if m
        }
        if len(spread) > 1:
            print(f"# {name}: shuffle bytes varied across samples "
                  f"{sorted(spread)} — AQE re-plan; recorded the "
                  "min-time sample's", file=sys.stderr)
        return chosen

    metrics_out: "dict | None" = {}
    for name in order:
        m = pick_metrics(name, samples[name], metric_samples[name])
        if m is not None:
            metrics_out[name] = m
    sm_m = pick_metrics("state_machine", sm_secs, sm_metrics)
    if sm_m is not None:
        metrics_out["state_machine"] = sm_m
    metrics_out = metrics_out or None
    # candidate-volume telemetry (round-16 verdict #7): candidates each
    # filter scheme admits to exact verification vs pairs emitted,
    # recorded in the metrics sidecar next to the plan bytes — the
    # prefix-filter and LSH-banding trades tracked by numbers.
    # Collected UNTIMED after all measured windows so the timed plans —
    # and plan_fp, which reads only the (shuffle, tasks) triples — stay
    # byte-identical to a telemetry-free run.
    from php_ec_spark.queries_pipeline import CANDIDATE_TELEMETRY

    for tname, collector in CANDIDATE_TELEMETRY.items():
        if not (metrics_out and metrics_out.get(tname)):
            continue
        try:
            jt = collector(spark, sf_dir)
            jt["out_rows"] = rows_of.get(tname)
            metrics_out[tname].update(jt)
            print(f"# {tname}: {jt['cand_pairs']} candidates -> "
                  f"{jt['out_rows']} verified pairs", file=sys.stderr)
        except Exception as ex:  # noqa: BLE001 — telemetry, not the bench
            print(f"# {tname} telemetry failed: "
                  f"{type(ex).__name__}: {ex}", file=sys.stderr)
        finally:
            # even a failed count may have materialized pinned
            # checkpoints (inverted index, banded table) — sweep
            clear_rdd_cache()
    for name in order:
        print(f"# {name}: {timings[name]:.3f}s ({rows_of[name]} rows)",
              file=sys.stderr)
    eps = n_events / min(sm_secs)
    print(f"# state-machine path: {eps:,.0f} events/s ({n_events} events)",
          file=sys.stderr)

    # per-query delta vs the newest BENCH_r{N}.json in the repo root
    # measured at THIS run's parallelism (a crippled artifact — r15's
    # truncated tail, parsed null — or one from another core count is
    # skipped), so same-box drifts are visible in the artifact itself
    here = os.path.dirname(os.path.abspath(__file__))
    parallelism = spark.sparkContext.defaultParallelism
    found = newest_parseable_artifact(here, parallelism)
    deltas = compute_deltas(timings, eps, eps_pure, found and found[1])

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "state_machine_eps": round(eps),
        "state_machine_eps_pure": round(eps_pure),
        # 12-hex digest over sorted per-query (shuffle bytes, tasks) —
        # the load-INDEPENDENT plan identity, readable from the compact
        # artifact alone (round-16 verdict #1: the byte metrics lived
        # only in the sidecar; a reader of BENCH_rN.json saw nothing but
        # window-hostage seconds). Equal fp across rounds = zero plan
        # drift; bench_trend's default table flags changes. CORE-COUNT-
        # SPECIFIC: task counts encode the effective parallelism, so a
        # different $SPARK_GRAFT_CPUS run legitimately carries a
        # different fp — compare fps only between runs whose
        # default_parallelism matches (round-17 verdict #2).
        "plan_fp": plan_fingerprint(metrics_out),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # effective core configuration (round-17 verdict #2): the artifact
        # PROVES which master / parallelism actually took effect, and
        # every cross-run comparison (deltas, fp drift, sidecar columns)
        # is scoped to one default_parallelism
        "master": spark.sparkContext.master,
        "default_parallelism": parallelism,
        # external-load audit trail: 1-min loadavg before the first
        # measurement and after the last (the bench's own work dominates
        # `end`, so `start` is the clean-window signal)
        "loadavg": {"start": load_start, "end": round(os.getloadavg()[0], 2)},
        # load-INDEPENDENT per-query execution metrics (round-14 verdict
        # #1): summed v1.StageData bytes/tasks over the stages each
        # query submitted, from the min-time sample. Cross-round trend
        # reads THESE for plan regressions (an extra exchange, a
        # broadcast falling back to shuffle) — no loaded window can fake
        # or hide a byte-metric jump. tools/bench_trend.py --metrics
        # diffs them across rounds. null only if the status-store probe
        # failed (py4j signature drift after a Spark upgrade).
        # NOTE: split_output() moves this block OFF the final stdout
        # line — round 15's inline block grew the line past the
        # driver's 2000-char tail capture and destroyed the artifact.
        "metrics": metrics_out,
    }
    if deltas:
        out["delta_vs_prev"] = deltas
        out["delta_baseline"] = found[0]
    compact, side = split_output(out)
    # flush=True per line: the capture combines stdout+stderr into one
    # stream (committed tails carry stage-progress stderr), and a single
    # deferred flush of both lines at exit would be one ~4.6 KB write —
    # past Linux's 4,096-byte PIPE_BUF atomicity bound, so stderr could
    # interleave mid-line at the kernel split point. Flushed separately,
    # each line is its own sub-PIPE_BUF atomic write and the FINAL line
    # (1.8 KB, length-pinned) can never be torn.
    if side is not None:
        # bulky metrics: own EARLIER stdout line (may be truncated out of
        # the driver's tail — that's fine) + durable committed sidecar
        print(json.dumps(side), flush=True)
        try:
            append_metrics_sidecar(
                side, os.path.join(here, "BENCH_METRICS.jsonl")
            )
        except OSError as ex:
            print(f"# metrics sidecar write failed: {ex}", file=sys.stderr)
    # the compact headline record is the FINAL line — the one the driver
    # parses out of its 2000-char tail
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
