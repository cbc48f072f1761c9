"""CLI pins for tools/bench_trend.py — the table the cross-round perf
adjudication reads. Runs the real script as a subprocess against
synthetic artifacts in a tmp root, so the pins cover argument parsing,
artifact loading, and all three table renderers (summary, --queries,
--metrics) end-to-end.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "bench_trend.py",
)


def _write(root, n, parsed) -> None:
    with open(os.path.join(root, f"BENCH_r{n:02d}.json"), "w") as f:
        json.dump({"parsed": parsed}, f)


def _run(root, *flags):
    out = subprocess.run(
        [sys.executable, TOOL, *flags, str(root)],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


def _fixture(root) -> None:
    _write(root, 1, {})  # value-less round (like the real r01)
    _write(root, 2, {
        "value": 20.0, "queries": {"qa": 2.0, "qb": 3.0},
        "state_machine_eps": 100000,
    })
    _write(root, 3, {
        "value": 15.0, "value_normalized": 12.0,
        "calib": {"ratio": 1.25}, "window": "warm",
        "queries": {"qa": 2.5, "qb": 2.5},
        "state_machine_eps": 120000, "state_machine_eps_pure": 250000,
        "metrics": {
            "qa": {"shuffle_read": 1_000_000, "shuffle_write": 1_000_000,
                   "spill_mem": 0, "spill_disk": 0, "input_bytes": 0,
                   "input_records": 0, "output_bytes": 0, "tasks": 8,
                   "stages": 3},
            "qb": {"shuffle_read": 0, "shuffle_write": 0,
                   "spill_mem": 5_000_000, "spill_disk": 0,
                   "input_bytes": 0, "input_records": 0,
                   "output_bytes": 0, "tasks": 4, "stages": 2},
        },
    })


class TestBenchTrend:
    def test_summary_has_one_row_per_round_including_valueless(
        self, tmp_path
    ):
        _fixture(tmp_path)
        lines = _run(tmp_path).splitlines()
        rows = [ln for ln in lines if ln.strip() and ln.split()[0].isdigit()]
        assert len(rows) == 3  # r01 placeholder row included
        assert rows[0].split() == ["1"] + ["-"] * 5
        assert rows[1].startswith("    2") and "20.000" in rows[1]
        # raw numbers only: a legacy artifact's ratio, window stamp and
        # normalized total are not printed
        assert rows[2].split()[:4] == ["3", "15.000", "120000", "250000"]
        assert "warm" not in rows[2] and "12.0" not in rows[2]

    def test_queries_table_prints_raw_times(self, tmp_path):
        _fixture(tmp_path)
        out = _run(tmp_path, "--queries")
        qa = next(ln for ln in out.splitlines() if ln.startswith("qa"))
        # r03's legacy ratio (1.25) is ignored: 2.5 raw, not 2.0
        assert qa.split()[1:] == ["-", "2.00", "2.50"]

    def test_metrics_table_and_spill_note(self, tmp_path):
        _fixture(tmp_path)
        out = _run(tmp_path, "--metrics")
        qa = next(ln for ln in out.splitlines() if ln.startswith("qa"))
        assert "2.0/8t" in qa  # (read+write)/1e6 MB and task count
        assert "SPILL r03 qb: 5.0 MB" in out

    def test_metrics_absent_notes_and_exits_cleanly(self, tmp_path):
        _write(tmp_path, 2, {"value": 1.0})
        out = subprocess.run(
            [sys.executable, TOOL, "--metrics", str(tmp_path)],
            capture_output=True, text=True, timeout=60,
        )
        assert out.returncode == 0
        assert "no exec metrics found" in out.stderr

    def test_metrics_sidecar_columns_label_by_utc(self, tmp_path):
        """r16+ contract: metrics ride BENCH_METRICS.jsonl, not the
        artifact — the table must pick them up and stamp-label them."""
        _fixture(tmp_path)
        rec = {
            "utc": "2026-08-16T18:22:17+00:00",
            "metrics": {
                "qa": {"shuffle_read": 3_000_000, "shuffle_write": 0,
                       "spill_mem": 0, "spill_disk": 0, "input_bytes": 0,
                       "input_records": 0, "output_bytes": 0, "tasks": 6,
                       "stages": 2},
            },
        }
        with open(os.path.join(tmp_path, "BENCH_METRICS.jsonl"), "w") as f:
            f.write(json.dumps(rec) + "\n")
            f.write("not json — a torn write must not kill the table\n")
        out = _run(tmp_path, "--metrics")
        head = next(
            ln for ln in out.splitlines() if ln.startswith("shuffle MB")
        )
        assert "0816.1822" in head
        qa = next(ln for ln in out.splitlines() if ln.startswith("qa"))
        assert "3.0/6t" in qa

    def test_metrics_salvaged_from_truncated_tail(self, tmp_path):
        """A null-parsed artifact (the committed BENCH_r15.json shape)
        still contributes whatever complete per-query blocks survive
        mid-line in its captured tail, labeled rNN~."""
        _fixture(tmp_path)
        frag = (
            '"input_records": 1}, '
            '"qb": {"shuffle_read": 7000000, "shuffle_write": 0, '
            '"spill_mem": 0, "spill_disk": 0, "input_bytes": 0, '
            '"input_records": 0, "output_bytes": 0, "tasks": 9, '
            '"stages": 2}, "delta_vs_prev": {"qb": 0.01}}'
        )
        with open(os.path.join(tmp_path, "BENCH_r04.json"), "w") as f:
            json.dump({"parsed": None, "tail": frag}, f)
        out = _run(tmp_path, "--metrics")
        head = next(
            ln for ln in out.splitlines() if ln.startswith("shuffle MB")
        )
        assert "r04~" in head
        qb = next(ln for ln in out.splitlines() if ln.startswith("qb"))
        assert "7.0/9t" in qb

    def test_metrics_columns_merge_chronologically(self, tmp_path):
        """A salvaged round OLDER than an inline round must print to its
        LEFT — left-to-right is chronological, or a byte-metric jump
        reads in the wrong direction."""
        _fixture(tmp_path)  # r03 carries inline metrics
        frag = (
            '"qa": {"shuffle_read": 9000000, "shuffle_write": 0, '
            '"spill_mem": 0, "spill_disk": 0, "input_bytes": 0, '
            '"input_records": 0, "output_bytes": 0, "tasks": 3, '
            '"stages": 1}}'
        )
        with open(os.path.join(tmp_path, "BENCH_r02.json"), "w") as f:
            json.dump({"parsed": None, "tail": frag}, f)
        out = _run(tmp_path, "--metrics")
        head = next(
            ln for ln in out.splitlines() if ln.startswith("shuffle MB")
        )
        assert head.index("r02~") < head.index("r03")

    def test_sidecar_filters_to_newest_entrys_sf(self, tmp_path):
        """Byte metrics from different scale factors are not comparable,
        and task counts from different core counts are not either: a
        stray sf0.01 smoke entry or a local[32] entry must neither print
        next to the newest entry's columns nor evict real entries from
        the last-4 window."""
        _fixture(tmp_path)
        m = {"qa": {"shuffle_read": 1, "shuffle_write": 0, "spill_mem": 0,
                    "spill_disk": 0, "input_bytes": 0, "input_records": 0,
                    "output_bytes": 0, "tasks": 1, "stages": 1}}
        with open(os.path.join(tmp_path, "BENCH_METRICS.jsonl"), "w") as f:
            f.write(json.dumps(
                {"utc": "2026-08-15T10:00:00+00:00", "sf": 0.01,
                 "default_parallelism": 4, "metrics": m}) + "\n")
            f.write(json.dumps(
                {"utc": "2026-08-15T12:00:00+00:00", "sf": 0.1,
                 "default_parallelism": 32, "metrics": m}) + "\n")
            f.write(json.dumps(
                {"utc": "2026-08-16T11:00:00+00:00", "sf": 0.1,
                 "default_parallelism": 4, "metrics": m}) + "\n")
        out = subprocess.run(
            [sys.executable, TOOL, "--metrics", str(tmp_path)],
            capture_output=True, text=True, timeout=60,
        )
        assert out.returncode == 0, out.stderr
        head = next(
            ln for ln in out.stdout.splitlines()
            if ln.startswith("shuffle MB")
        )
        assert "0816.1100" in head
        assert "0815.1000" not in head
        assert "0815.1200" not in head
        assert "2 entries at other sf/parallelism skipped" in out.stderr

    def test_null_metrics_entry_does_not_crash_spill_scan(self, tmp_path):
        """Round-15 ADVICE: a null per-query metrics entry (collector
        degraded mid-run) raised TypeError in the spill enumeration."""
        _write(tmp_path, 5, {
            "value": 1.0, "queries": {"qa": 1.0},
            "metrics": {"qa": None},
        })
        out = _run(tmp_path, "--metrics")
        qa = next(ln for ln in out.splitlines() if ln.startswith("qa"))
        assert "-" in qa

    def test_fragment_missing_spill_disk_does_not_crash(self, tmp_path):
        """Round-16 ADVICE: the spill scan guarded spill_mem with .get
        but indexed spill_disk directly — a salvaged fragment (only
        guaranteed to start with shuffle_read) KeyError'd the table."""
        _write(tmp_path, 5, {
            "value": 1.0, "queries": {"qa": 1.0},
            "metrics": {"qa": {"shuffle_read": 1_000_000,
                               "shuffle_write": 0, "spill_mem": 7_000_000,
                               "tasks": 3}},
        })
        out = _run(tmp_path, "--metrics")
        assert "SPILL r05 qa: 7.0 MB" in out

    def test_plan_fp_column_flags_drift(self, tmp_path):
        """Round-16 verdict #1: the DEFAULT table must carry the plan
        fingerprint and flag changes — r17+ artifacts carry plan_fp
        directly; legacy inline-metrics rounds get it recomputed with
        the same bench.plan_fingerprint, so the two sources agree."""
        _fixture(tmp_path)  # r03 has inline metrics -> computed fp
        sys.path.insert(0, os.path.dirname(os.path.dirname(TOOL)))
        import bench

        fp3 = bench.plan_fingerprint({
            "qa": {"shuffle_read": 1_000_000, "shuffle_write": 1_000_000,
                   "tasks": 8},
            "qb": {"shuffle_read": 0, "shuffle_write": 0, "tasks": 4},
        })
        # r04: same plan, explicit plan_fp field -> NOT flagged
        _write(tmp_path, 4, {"value": 14.0, "plan_fp": fp3})
        # r05: a different fp -> flagged with !
        _write(tmp_path, 5, {"value": 14.0, "plan_fp": "deadbeef0123"})
        out = _run(tmp_path)
        rows = {ln.split()[0]: ln for ln in out.splitlines()
                if ln.strip() and ln.split()[0].isdigit()}
        assert rows["3"].rstrip().endswith(fp3)
        assert rows["4"].rstrip().endswith(fp3), "same plan must not flag"
        assert rows["5"].rstrip().endswith("deadbeef0123!")
        assert "plan fingerprint changed" in out

    def test_sidecar_limit_flag_bounds_columns(self, tmp_path):
        _fixture(tmp_path)
        m = {"qa": {"shuffle_read": 1, "shuffle_write": 0, "spill_mem": 0,
                    "spill_disk": 0, "input_bytes": 0, "input_records": 0,
                    "output_bytes": 0, "tasks": 1, "stages": 1}}
        with open(os.path.join(tmp_path, "BENCH_METRICS.jsonl"), "w") as f:
            for h in (10, 11, 12, 13, 14):
                f.write(json.dumps(
                    {"utc": f"2026-08-16T{h}:00:00+00:00", "sf": 0.1,
                     "metrics": m}) + "\n")
        head = next(ln for ln in _run(tmp_path, "--metrics").splitlines()
                    if ln.startswith("shuffle MB"))
        assert "0816.1400" in head and "0816.1000" not in head  # default 4
        head = next(
            ln for ln in
            _run(tmp_path, "--metrics", "--sidecar-limit=2").splitlines()
            if ln.startswith("shuffle MB")
        )
        assert "0816.1300" in head and "0816.1200" not in head

    def test_partial_inline_metrics_do_not_crash_default_table(
        self, tmp_path
    ):
        """A hand-salvaged/partial inline block (only guaranteed to
        start with shuffle_read) must render as '-' in the fp column,
        not KeyError the whole table (same hazard class as the spill
        fix)."""
        _write(tmp_path, 6, {
            "value": 1.0, "queries": {"qa": 1.0},
            "metrics": {"qa": {"shuffle_read": 1, "spill_mem": 0}},
        })
        rows = {ln.split()[0]: ln for ln in _run(tmp_path).splitlines()
                if ln.strip() and ln.split()[0].isdigit()}
        assert rows["6"].rstrip().endswith("-")

    def test_fp_drift_is_scoped_per_sf(self, tmp_path):
        """A committed smoke round at another scale factor differs in
        bytes by data size alone — it must not flag itself (nor its
        same-sf successor) as a plan change."""
        _write(tmp_path, 2, {"value": 10.0, "sf": 0.1,
                             "plan_fp": "aaaaaaaaaaaa"})
        _write(tmp_path, 3, {"value": 2.0, "sf": 0.01,
                             "plan_fp": "bbbbbbbbbbbb"})
        _write(tmp_path, 4, {"value": 10.0, "sf": 0.1,
                             "plan_fp": "aaaaaaaaaaaa"})
        _write(tmp_path, 5, {"value": 10.0, "sf": 0.1,
                             "plan_fp": "cccccccccccc"})
        out = _run(tmp_path)
        rows = {ln.split()[0]: ln for ln in out.splitlines()
                if ln.strip() and ln.split()[0].isdigit()}
        assert "!" not in rows["3"], "cross-sf must not flag"
        assert "!" not in rows["4"], "same fp as last same-sf round"
        assert rows["5"].rstrip().endswith("cccccccccccc!")

    def test_one_bucket_fp_flip_is_not_drift(self, tmp_path):
        """A byte count at a quantization bucket boundary can flip the fp
        between identical plans; with both rounds' sidecar metrics at
        hand, a move of one bucket prints no '!', a move of two does."""
        sys.path.insert(0, os.path.dirname(os.path.dirname(TOOL)))
        import bench

        def at_bucket(b: int) -> int:
            x = int(2 ** ((b - 1) / 256))
            while bench.byte_bucket(x) < b:
                x += 1
            return x

        b0 = bench.byte_bucket(1_000_000)
        rows_in = []
        for n, b in ((2, b0), (3, b0 + 1), (4, b0 + 3)):
            m = {"qa": {"shuffle_read": at_bucket(b), "shuffle_write": 0,
                        "tasks": 8}}
            fp = bench.plan_fingerprint(m)
            _write(tmp_path, n, {"value": 10.0, "sf": 0.1,
                                 "default_parallelism": 4, "plan_fp": fp})
            rows_in.append({"utc": f"2026-10-1{n}T00:00:00+00:00",
                            "sf": 0.1, "default_parallelism": 4,
                            "plan_fp": fp, "metrics": m})
        with open(os.path.join(tmp_path, "BENCH_METRICS.jsonl"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows_in)
        out = _run(tmp_path)
        rows = {ln.split()[0]: ln for ln in out.splitlines()
                if ln.strip() and ln.split()[0].isdigit()}
        assert rows_in[0]["plan_fp"] != rows_in[1]["plan_fp"]
        assert "!" not in rows["3"], "one bucket apart is not drift"
        assert rows["4"].rstrip().endswith(rows_in[2]["plan_fp"] + "!")

    def test_sidecar_limit_zero_shows_no_sidecar_columns(self, tmp_path):
        _fixture(tmp_path)
        m = {"qa": {"shuffle_read": 1, "shuffle_write": 0, "spill_mem": 0,
                    "spill_disk": 0, "input_bytes": 0, "input_records": 0,
                    "output_bytes": 0, "tasks": 1, "stages": 1}}
        with open(os.path.join(tmp_path, "BENCH_METRICS.jsonl"), "w") as f:
            f.write(json.dumps(
                {"utc": "2026-08-16T11:00:00+00:00", "sf": 0.1,
                 "metrics": m}) + "\n")
        head = next(
            ln for ln in
            _run(tmp_path, "--metrics", "--sidecar-limit=0").splitlines()
            if ln.startswith("shuffle MB")
        )
        assert "0816" not in head

    def test_prune_survives_non_dict_json_lines(self, tmp_path):
        _fixture(tmp_path)
        m = {"qa": {"shuffle_read": 1, "shuffle_write": 0, "tasks": 1}}
        p = os.path.join(tmp_path, "BENCH_METRICS.jsonl")
        with open(p, "w") as f:
            f.write("null\n")       # valid JSON, not a record
            f.write("123\n")
            for i in range(3):
                f.write(json.dumps({"utc": f"2026-08-1{i}T00:00:00+00:00",
                                    "sf": 0.1, "seq": i,
                                    "metrics": m}) + "\n")
        out = subprocess.run(
            [sys.executable, TOOL, "--prune-sidecar=2", str(tmp_path)],
            capture_output=True, text=True, timeout=60,
        )
        assert out.returncode == 0, out.stderr
        assert [json.loads(ln)["seq"] for ln in open(p)] == [1, 2]

    def test_prune_sidecar_keeps_newest_per_sf(self, tmp_path):
        _fixture(tmp_path)
        m = {"qa": {"shuffle_read": 1, "shuffle_write": 0, "tasks": 1}}
        p = os.path.join(tmp_path, "BENCH_METRICS.jsonl")
        with open(p, "w") as f:
            for i, sf in enumerate((0.1, 0.1, 0.1, 0.01, 0.1, 0.01)):
                f.write(json.dumps(
                    {"utc": f"2026-08-1{i}T00:00:00+00:00", "sf": sf,
                     "seq": i, "metrics": m}) + "\n")
            f.write("torn line\n")
        out = subprocess.run(
            [sys.executable, TOOL, "--prune-sidecar=2", str(tmp_path)],
            capture_output=True, text=True, timeout=60,
        )
        assert out.returncode == 0, out.stderr
        assert "kept 4 of 7" in out.stderr
        recs = [json.loads(ln) for ln in open(p)]
        # newest 2 per sf, original (chronological) order preserved
        assert [r["seq"] for r in recs] == [2, 3, 4, 5]
        # idempotent: a second prune is a no-op
        out2 = subprocess.run(
            [sys.executable, TOOL, "--prune-sidecar=2", str(tmp_path)],
            capture_output=True, text=True, timeout=60,
        )
        assert "nothing to do" in out2.stderr
        assert [json.loads(ln)["seq"] for ln in open(p)] == [2, 3, 4, 5]
