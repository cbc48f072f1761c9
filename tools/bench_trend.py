"""Cross-round bench trend table from the committed BENCH_r*.json artifacts.

This tool reads every ``BENCH_r*.json`` in the repo root and prints one
row per round with the raw min-of-N total, the state-machine eps pair,
the run's ``default_parallelism`` and its plan fingerprint; ``--queries``
adds a per-query raw-seconds table. Wall time is only comparable between
rounds at the same parallelism on a similarly loaded box; plan changes
are read off the load-independent counters below.

``--metrics`` (r15+ artifacts) prints the load-INDEPENDENT per-query
plan metrics — shuffle bytes and task counts — whose cross-round jumps
are real plan regressions regardless of box load. The DEFAULT table
carries the compressed form of the same signal (round-16 verdict #1):
a ``plan fp`` column — bench.py's 12-hex fingerprint over the sorted
per-query (shuffle bytes, tasks) — read from the artifact's ``plan_fp``
field (r17+) or recomputed from legacy inline metrics, with a ``!``
marking any round whose fingerprint differs from the previous
fingerprinted round at the same (sf, default_parallelism) — a plan
change; drill in with ``--metrics``. When both rounds' per-query
metrics are at hand (inline, or the sidecar row carrying the round's
``plan_fp``), a differing fp is flagged only if some query's task count
changed or a shuffle-byte field moved by more than one quantization
bucket: a one-bucket flip is codec jitter at a bucket boundary, not a
plan change.

Sidecar hygiene: BENCH_METRICS.jsonl is append-on-run from every actor
(builder, driver, judge), so it grows monotonically. Committed policy:
keep the newest 8 entries per scale factor — run
``python tools/bench_trend.py --prune-sidecar=8`` when it drifts past
that (prunes in place, keeps relative order, prints what it dropped).
``--sidecar-limit=N`` bounds how many sidecar columns the --metrics
table shows (display only; default 4).

Usage: python tools/bench_trend.py [--queries] [--metrics]
       [--sidecar-limit=N] [--prune-sidecar=N] [root-dir]
(root-dir defaults to the repo root — overridable so tests can point the
tool at synthetic artifacts)
"""

from __future__ import annotations

import json
import os
import sys

# bench.py (repo root = the tool dir's parent) owns plan_fingerprint —
# one definition, so the recomputed-from-legacy-metrics fp can never
# drift from the fp bench.py stamps into new artifacts
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
from bench import byte_bucket, plan_fingerprint  # noqa: E402


def _flag_val(name: str, default: int) -> int:
    """Parse ``--name=N`` from argv (the bare positional slot is taken
    by root-dir, so value-carrying flags use the = form only)."""
    for a in sys.argv[1:]:
        if a.startswith(f"--{name}="):
            return int(a.split("=", 1)[1])
    return default


def within_one_bucket(a: dict, b: dict) -> bool:
    """True when two rounds' per-query plan metrics describe the same
    plan up to ``plan_fingerprint``'s residual: the same queries, the
    same task counts, and each shuffle read/write bucket moved by at
    most one. Partial blocks are skipped, as the fingerprint skips
    them."""
    fields = ("shuffle_read", "shuffle_write", "tasks")

    def full(ms: dict) -> dict:
        return {q: m for q, m in ms.items()
                if m and all(k in m for k in fields)}

    a, b = full(a), full(b)
    return a.keys() == b.keys() and all(
        a[q]["tasks"] == b[q]["tasks"]
        and all(abs(byte_bucket(a[q][k]) - byte_bucket(b[q][k])) <= 1
                for k in fields[:2])
        for q in a
    )


def load_rounds(root: str) -> "list[tuple[int, dict, str]]":
    """One (round, parsed, tail) per BENCH_r*.json — the tail rides
    along so the --metrics salvage pass doesn't re-list and re-parse
    every artifact a second time."""
    import re

    rounds = []
    for f in os.listdir(root):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if not m:
            continue
        n = int(m.group(1))  # numeric sort: r9 before r13 even unpadded
        parsed, tail = {}, ""
        try:
            with open(os.path.join(root, f)) as fh:
                art = json.load(fh)
            parsed = art.get("parsed") or {}
            tail = art.get("tail") or ""
        except (OSError, ValueError, AttributeError):
            pass
        # rounds with no parsed value (r01, for example) stay in the list
        # and print as placeholder '-' rows, so the table really is one
        # row per round instead of silently shrinking
        rounds.append((n, parsed, tail))
    rounds.sort()
    return rounds


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    root = args[0] if args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    prune = _flag_val("prune-sidecar", 0)
    if prune > 0:
        prune_sidecar(root, prune)
        return
    rounds = load_rounds(root)
    if not rounds:
        print("no BENCH_r*.json artifacts found", file=sys.stderr)
        raise SystemExit(1)

    print(f"{'round':>5}  {'raw s':>8}  {'eps':>8}  {'pure eps':>8}  "
          f"{'par':>4}  {'plan fp':>13}")
    side_by_fp = {fp: ms for *_, ms, fp in load_sidecar_metrics(root)
                  if fp}
    fp_prev_by_sf: dict = {}
    fp_drifted = False
    for n, p, _ in rounds:
        # the fp column renders even on a value-less round: plan bytes
        # can survive a measurement that lost its headline (r15's
        # truncated tail kept 7 metrics blocks but no totals)
        fp = p.get("plan_fp") or plan_fingerprint(p.get("metrics"))
        ms = p.get("metrics") or side_by_fp.get(fp)
        fp_cell = fp or "-"
        # drift compares PER (sf, default_parallelism): byte metrics
        # from different sf differ by data size alone, and task counts
        # encode the core count, so a committed sf0.01 smoke round or a
        # local[4] run must not flag itself and its successor as plan
        # changes against a local[32] history
        par = p.get("default_parallelism")
        scope = (p.get("sf"), par)
        prev_fp, prev_ms = fp_prev_by_sf.get(scope, (None, None))
        if fp and prev_fp not in (None, fp) and not (
            ms and prev_ms and within_one_bucket(prev_ms, ms)
        ):
            fp_cell += "!"          # plan drift vs previous fp'd round
            fp_drifted = True
        if fp:
            fp_prev_by_sf[scope] = (fp, ms)
        if p.get("value") is None:
            print(f"{n:>5}  {'-':>8}  {'-':>8}  {'-':>8}  {'-':>4}  "
                  f"{fp_cell:>13}")
            continue
        print(f"{n:>5}  {p['value']:>8.3f}  "
              f"{p.get('state_machine_eps', '-'):>8}  "
              f"{p.get('state_machine_eps_pure', '-'):>8}  "
              f"{par if par is not None else '-':>4}  "
              f"{fp_cell:>13}")
    if fp_drifted:
        print("(! = plan fingerprint changed vs the previous "
              "fingerprinted round at the same sf and parallelism, by "
              "more than one byte bucket where both rounds' metrics are "
              "known — load cannot fake it; diff the bytes with "
              "--metrics)")

    if "--queries" in sys.argv:
        # per-query raw min-of-N seconds, one column per round
        names = sorted(
            {q for _, p, _t in rounds for q in p.get("queries", {})}
        )
        print()
        header = "query".ljust(28) + "".join(f"r{n:>02}".rjust(9)
                                             for n, _, _t in rounds)
        print(header)
        for q in names:
            row = q.ljust(28)
            for _, p, _t in rounds:
                t = p.get("queries", {}).get(q)
                row += ("-" if t is None else f"{t:.2f}").rjust(9)
            print(row)

    if "--metrics" in sys.argv:
        # load-INDEPENDENT plan metrics per query (total shuffle bytes
        # read+write and completed tasks). These are properties of the
        # plan, not the measurement window — a jump here is a real plan
        # regression (an extra exchange, a broadcast falling back to
        # shuffle) no loaded box can fake; a flat line absolves a noisy
        # seconds delta. Three sources, newest last:
        #   1. legacy inline blocks in BENCH_r*.json parsed payloads
        #      (r15-era; the inline block was retired after it truncated
        #      the artifact),
        #   2. the r15 tail FRAGMENT — parsed is null but ~7 blocks
        #      survive mid-line in the captured tail; salvage them,
        #   3. the committed BENCH_METRICS.jsonl sidecar (r16+), labeled
        #      by UTC stamp (the driver round number isn't known at
        #      bench time); only the newest few shown to bound width,
        #      and only entries at the newest entry's scale factor AND
        #      default_parallelism — byte metrics from different sf are
        #      not comparable, task counts from different core counts
        #      are not either, and a stray local smoke run must not
        #      masquerade as a trend column (or evict real ones from
        #      the window).
        # Inline and salvaged columns MERGE in round order (a salvaged
        # r03~ prints before an inline r05), so left-to-right really is
        # chronological.
        by_round = [(n, f"r{n:02d}", p["metrics"])
                    for n, p, _t in rounds if p.get("metrics")]
        by_round += [(n, f"r{n:02d}~", frag)
                     for n, frag in salvage_fragment_metrics(rounds)]
        by_round.sort(key=lambda t: t[0])
        cols = [(lab, ms) for _, lab, ms in by_round]
        side = load_sidecar_metrics(root)
        if side:
            sf_newest, par_newest = side[-1][:2]
            same_sf = [(lab, ms) for sf, par, lab, ms, _fp in side
                       if (sf, par) == (sf_newest, par_newest)]
            if len(same_sf) < len(side):
                print(f"(sidecar: {len(side) - len(same_sf)} entries at "
                      f"other sf/parallelism skipped; showing "
                      f"sf={sf_newest}, parallelism={par_newest})",
                      file=sys.stderr)
            limit = _flag_val("sidecar-limit", 4)
            # explicit guard: same_sf[-0:] is the WHOLE list, the exact
            # opposite of "show zero sidecar columns"
            cols += same_sf[-limit:] if limit > 0 else []
        if not cols:
            print("\nno exec metrics found (BENCH_r15+ artifact or "
                  "BENCH_METRICS.jsonl sidecar)", file=sys.stderr)
            return
        names = sorted({q for _, ms in cols for q in ms})
        print()
        print("shuffle MB / tasks".ljust(28)
              + "".join(lab.rjust(16) for lab, _ in cols))
        for q in names:
            row = q.ljust(28)
            for _, ms in cols:
                m = ms.get(q)
                if m is None:
                    row += "-".rjust(16)
                else:
                    mb = (m["shuffle_read"] + m["shuffle_write"]) / 1e6
                    row += f"{mb:.1f}/{m['tasks']}t".rjust(16)
            print(row)
        print("\n(~ = salvaged from a truncated-tail artifact; spill "
              "bytes are omitted when zero everywhere)")
        # .get with defaults on BOTH spill fields (round-16 ADVICE): a
        # salvaged tail fragment only guarantees the block starts with
        # shuffle_read — a missing spill_disk must not KeyError the
        # whole table
        spilled = [
            (q, lab, m.get("spill_mem", 0) + m.get("spill_disk", 0))
            for lab, ms in cols for q, m in ms.items()
            if m and m.get("spill_mem", 0) + m.get("spill_disk", 0) > 0
        ]
        for q, lab, b in spilled:
            print(f"SPILL {lab} {q}: {b / 1e6:.1f} MB")


def prune_sidecar(root: str, keep: int) -> None:
    """Trim BENCH_METRICS.jsonl in place to the newest ``keep`` entries
    PER SCALE FACTOR (file order = append order = chronological), so
    the committed sidecar stops growing monotonically while every sf's
    recent byte-metric history survives. Unparseable lines (torn
    writes) are dropped too — they carry no recoverable metrics. The
    committed policy is keep=8; see the module docstring."""
    path = os.path.join(root, "BENCH_METRICS.jsonl")
    try:
        with open(path) as fh:
            lines = [ln for ln in fh if ln.strip()]
    except OSError as ex:
        print(f"prune: cannot read {path}: {ex}", file=sys.stderr)
        raise SystemExit(1)
    per_sf: dict = {}
    parsed = []
    for ln in lines:
        try:
            rec = json.loads(ln)
        except ValueError:
            continue
        if not isinstance(rec, dict):
            # `null` / bare-number lines parse but carry nothing — junk
            # to drop, same as torn writes
            continue
        sf = rec.get("sf")
        parsed.append((sf, ln))
        per_sf.setdefault(sf, []).append(ln)
    keep_set = {id(ln) for sfl in per_sf.values() for ln in sfl[-keep:]}
    kept = [ln for _, ln in parsed if id(ln) in keep_set]
    if len(kept) == len(lines):
        print(f"prune: nothing to do ({len(lines)} entries, "
              f"<= {keep} per sf)", file=sys.stderr)
        return
    with open(path, "w") as fh:
        fh.writelines(kept)
    print(f"prune: kept {len(kept)} of {len(lines)} entries "
          f"(newest {keep} per sf: "
          + ", ".join(f"sf={sf}:{min(len(v), keep)}"
                      for sf, v in sorted(per_sf.items(),
                                          key=lambda kv: str(kv[0])))
          + ")", file=sys.stderr)


def load_sidecar_metrics(
    root: str,
) -> "list[tuple[object, object, str, dict, object]]":
    """BENCH_METRICS.jsonl entries as (sf, default_parallelism, label,
    metrics, plan_fp) columns, oldest first; labels are the UTC stamp
    compressed to MMDD.HHMM. Rows written before the sidecar recorded
    parallelism carry None there."""
    cols = []
    path = os.path.join(root, "BENCH_METRICS.jsonl")
    try:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if not rec.get("metrics"):
                    continue
                utc = rec.get("utc", "")
                # 2026-08-16T18:22:17+00:00 -> 0816.1822
                lab = (utc[5:7] + utc[8:10] + "." + utc[11:13]
                       + utc[14:16]) if len(utc) >= 16 else "side"
                cols.append((rec.get("sf"), rec.get("default_parallelism"),
                             lab, rec["metrics"], rec.get("plan_fp")))
    except OSError:
        pass
    return cols


def salvage_fragment_metrics(
    rounds: "list[tuple[int, dict, str]]",
) -> "list[tuple[int, dict]]":
    """Recover per-query metrics blocks from artifacts whose parsed
    payload is null but whose captured TAIL still carries complete
    ``"name": {"shuffle_read": ...}`` fragments mid-line (BENCH_r15.json
    lost its headline to truncation but kept 7 of 14 blocks). Operates
    on load_rounds' output — no second directory walk."""
    import re

    out = []
    pat = re.compile(r'"([A-Za-z0-9_]+)": (\{"shuffle_read":[^{}]*\})')
    for n, parsed, tail in rounds:
        if parsed or not tail:
            continue
        frag = {}
        for name, block in pat.findall(tail):
            try:
                frag[name] = json.loads(block)
            except ValueError:
                continue
        if frag:
            out.append((n, frag))
    return out


if __name__ == "__main__":
    main()
