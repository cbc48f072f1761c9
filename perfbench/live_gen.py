"""Open-loop NDJSON event generator, run as its own process.

Writes one file every 250 ms on a fixed schedule that
does not slow down when the engine falls behind: file j holds the events
due in the j-th interval and is due itself at the interval's end. Event i
is due at ``t0 + i / rate`` and carries that due time as its ``ts``.
Files appear atomically (written under a hidden name, then renamed), so
the file source never reads a partial file.

At exit it writes a JSON log: per file, its scheduled and actual write
time and the cumulative event count — how late the generator ran.

    python3 live_gen.py --out DIR --log FILE --seed N --rate EPS \\
        --keys K --seconds S --t0 EPOCH_S --id-base ID
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen

#: one file per quarter second
INTERVAL_S = 0.25


def event_lines(cols: dict, due_us, lo: int, hi: int) -> str:
    out = []
    for i in range(lo, hi):
        v = cols["value"][i]
        out.append(json.dumps({
            "event_id": int(cols["event_id"][i]),
            "ts": gen.iso_us(int(due_us[i])),
            "user_id": int(cols["user_id"][i]),
            "event_type": cols["event_type"][i],
            "value": None if v != v else float(v),
            "props": None,
        }))
    return "\n".join(out) + "\n" if out else ""


def main() -> None:
    ap = argparse.ArgumentParser()
    for name, typ in (("out", str), ("log", str), ("seed", int), ("rate", int),
                      ("keys", int), ("seconds", float), ("t0", float),
                      ("id-base", int)):
        ap.add_argument("--" + name, type=typ, required=True)
    a = ap.parse_args()
    cols, due_us = gen.live_schedule(
        a.seed, a.rate, a.keys, a.seconds, a.t0, a.id_base)
    n = len(due_us)
    log = {"t0": a.t0, "rate": a.rate, "interval": INTERVAL_S, "files": []}
    done = 0
    j = 0
    while done < n:
        sched = a.t0 + (j + 1) * INTERVAL_S
        wait = sched - time.time()
        if wait > 0:
            time.sleep(wait)
        hi = done
        limit_us = int(round(sched * 1e6))
        while hi < n and due_us[hi] < limit_us:
            hi += 1
        path = os.path.join(a.out, f"live-{j:06d}.json")
        tmp = os.path.join(a.out, f".live-{j:06d}.tmp")
        with open(tmp, "w") as f:
            f.write(event_lines(cols, due_us, done, hi))
        os.rename(tmp, path)
        log["files"].append(
            {"sched": sched, "written": time.time(), "events": hi})
        done = hi
        j += 1
    with open(a.log + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(a.log + ".tmp", a.log)


if __name__ == "__main__":
    main()
