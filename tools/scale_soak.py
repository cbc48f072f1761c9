"""Empirical scale soak for the heavy pipeline + CEP plans (SCALE.md
generator).

The 100 TB design claims in VERDICT/PLANS rest on plan shape; this tool
turns them into measurements: it synthesizes m× copies of the sf0.1
`documents` corpus (perturbed so near-dup DENSITY stays constant — see
`synthesize`) and of the `events` stream (fresh correlation keys per
copy — see `synthesize_events`), runs the heaviest pipeline and CEP
queries at each scale, and reports wall time, output rows, and the
fitted scaling exponent alpha where t ~ N^alpha (alpha ≈ 1 ⇒ linear,
the scale-safe target; alpha ≈ 2 ⇒ an all-pairs term survived
somewhere).

Usage:
    PYTHONPATH=/root/repo python tools/scale_soak.py \
        [--scales 1,3,10] [--iters 3] [--sf-dir /root/testdata/sf0.1] \
        [--workdir /tmp/scale_soak] [--md SCALE.md]

Corpus synthesis keeps duplicate density constant across scales: copy 0
is the original corpus, doc_id -> doc_id*100 + copy keeps ids disjoint,
and identical texts within a copy stay identical (planted dups
replicate per copy). Two growth regimes, selected with --mode:

- ``distinct`` (default): in copy c>0 every token at position
  i % 3 == c % 3 is replaced by a copy-salted token. Every 3-token
  shingle window contains a replaced position for every pair of
  copies, so cross-copy shingle overlap is ZERO — scaling the corpus
  adds genuinely new content, the expected production regime.
- ``similar``: the same salting at i % 8 == c % 8. Replacing ~1/8 of
  tokens kills only ~3/8 of shared shingles, leaving cross-copy
  Jaccard ~0.45 — below the 0.8 threshold but co-occurrence-heavy.
  This is the adversarial regime for the inverted-index join (a crawl
  where everything is ~half-similar to 9 other things): candidate
  volume grows with shared-shingle document frequency squared, so
  super-linear alpha here measures the data's co-occurrence growth,
  bounded by the max_df stop-shingle guard.

(sf0.1 has no docs under 8 tokens — verified min 10 — so every copy of
every doc is perturbed in both modes.)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = (
    "pipe_jaccard_pairs",
    "pipe_minhash_lsh",
    "pipe_dedup_clusters",
    "pipe_simhash",
    "pipe_pack_sequences",
    "pipe_dup_spans",
    "pipe_lm_score",
)

#: CEP plans soaked in the `cep` regime: events replicated with FRESH
#: correlation keys (constant per-key stream and match density — scaling
#: adds users, the production growth axis for a correlation engine).
CEP_QUERIES = (
    "cep_seq_two_step",
    "cep_funnel_3step",
    "cep_gap_sessions",
    "cep_chain_reinject",
)


def synthesize(
    spark, sf_dir: str, scale: int, out_dir: str, modulus: int = 3
) -> str:
    """Write a scale× documents.parquet under out_dir/x{scale} and return
    that directory (other tables are not needed by the soaked queries).
    ``modulus`` selects the growth regime: 3 = distinct copies (zero
    cross-copy shingle overlap), 8 = similar copies (~0.45 cross-copy
    Jaccard)."""
    from pyspark.sql import functions as F

    dst = os.path.join(out_dir, f"m{modulus}x{scale}")
    dest_parquet = os.path.join(dst, "documents.parquet")
    if os.path.exists(dest_parquet):
        return dst
    os.makedirs(dst, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if scale == 1:
        docs.write.mode("overwrite").parquet(dest_parquet)
        return dst
    if scale > 100:
        # id*100 + copy keeps ids disjoint only for copy < 100; beyond
        # that, copies alias onto neighbouring source ids and the
        # constant-density invariant silently breaks.
        raise ValueError(f"scale {scale} > 100 would collide synthesized ids")
    copies = spark.range(scale).withColumnRenamed("id", "copy")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    perturbed = F.array_join(
        F.transform(
            toks,
            lambda x, i: F.when(
                i % F.lit(modulus) == F.col("copy") % modulus,
                F.concat(F.lit("c"), F.col("copy").cast("string"), F.lit("q"), x),
            ).otherwise(x),
        ),
        " ",
    )
    big = docs.crossJoin(copies).select(
        (F.col("doc_id") * 100 + F.col("copy")).alias("doc_id"),
        F.when(F.col("copy") == 0, F.col("text"))
        .otherwise(perturbed)
        .alias("text"),
        "lang",
        "source",
        F.length(
            F.when(F.col("copy") == 0, F.col("text")).otherwise(perturbed)
        ).alias("n_chars"),
    )
    # spread write parallelism so the 10x read side starts well-partitioned
    big.repartition(32).write.mode("overwrite").parquet(dest_parquet)
    return dst


def synthesize_events(spark, sf_dir: str, scale: int, out_dir: str) -> str:
    """Write a scale× events.parquet under out_dir/ev_x{scale}: copies get
    FRESH user_ids (and unique event_ids) with identical per-key streams,
    so match density per key is constant and growth is all new keys —
    the production scaling axis for the correlation path."""
    from pyspark.sql import functions as F

    from php_ec_spark.model import load_events

    dst = os.path.join(out_dir, f"ev_x{scale}")
    dest_parquet = os.path.join(dst, "events.parquet")
    if os.path.exists(dest_parquet):
        return dst
    os.makedirs(dst, exist_ok=True)
    ev = load_events(spark, sf_dir)  # normalizes ts whatever the encoding
    if scale == 1:
        ev.write.mode("overwrite").parquet(dest_parquet)
        return dst
    if scale > 100:
        # same id*100 + copy convention as the documents path: copy ≥ 100
        # merges distinct users' streams (user 7 copy 100 == user 8 copy
        # 0), breaking the constant per-key match density the cep regime
        # measures.
        raise ValueError(f"scale {scale} > 100 would collide synthesized ids")
    copies = spark.range(scale).withColumnRenamed("id", "copy")
    big = ev.crossJoin(copies).select(
        (F.col("event_id") * 100 + F.col("copy")).alias("event_id"),
        "ts",
        (F.col("user_id") * 100 + F.col("copy")).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    big.repartition(32).write.mode("overwrite").parquet(dest_parquet)
    return dst


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default="/tmp/scale_soak")
    ap.add_argument("--md", default=None, help="write SCALE.md here")
    ap.add_argument("--keep", action="store_true", help="keep synthesized parquet")
    ap.add_argument(
        "--modes",
        default="distinct,similar,cep",
        help="comma list of growth regimes to measure "
        "(distinct, similar, cep)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    modes = args.modes.split(",")

    from php_ec_spark.catalog import all_queries
    from php_ec_spark.session import get_spark, release_checkpoint_caches

    spark = get_spark(app_name="php-ec-spark-scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    lo, hi = scales[0], scales[-1]
    doc = {}
    lines = [
        "# SCALE — measured scaling of the heavy pipeline + CEP plans",
        "",
        f"Generated by `tools/scale_soak.py` on a local[32] session; corpus "
        f"= sf0.1 `documents` replicated with constant duplicate density "
        f"(see the tool docstring for the perturbation schemes). Times are "
        f"min-of-{args.iters} seconds. `alpha` is the fitted exponent of "
        f"t ~ N^alpha between {lo}x and {hi}x, and `alpha_hi` the local "
        f"exponent over the top scale step (where fixed per-job overhead "
        f"has amortized away — the number that extrapolates): <= ~1.1 "
        f"means the plan grows linearly with the corpus, the scale-safe "
        f"target.",
        "",
    ]
    for mode in modes:
        queries = CEP_QUERIES if mode == "cep" else QUERIES
        modulus = 3 if mode == "distinct" else 8
        results: dict[str, dict[int, dict]] = {q: {} for q in queries}
        n_docs: dict[int, int] = {}
        for scale in scales:
            if mode == "cep":
                sdir = synthesize_events(spark, args.sf_dir, scale, args.workdir)
                n_docs[scale] = spark.read.parquet(
                    os.path.join(sdir, "events.parquet")
                ).count()
                unit = "events"
            else:
                sdir = synthesize(
                    spark, args.sf_dir, scale, args.workdir, modulus=modulus
                )
                n_docs[scale] = spark.read.parquet(
                    os.path.join(sdir, "documents.parquet")
                ).count()
                unit = "docs"
            print(
                f"# [{mode}] scale {scale}x: {n_docs[scale]} {unit}",
                file=sys.stderr,
            )
            for name in queries:
                best, rows = None, 0
                for _ in range(args.iters):
                    t0 = time.perf_counter()
                    rows = qs[name].spark(spark, sdir).count()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                    release_checkpoint_caches(spark)
                results[name][scale] = {"sec": round(best, 3), "rows": rows}
                print(
                    f"# [{mode}] {name} @ {scale}x: {best:.3f}s ({rows} rows)",
                    file=sys.stderr,
                )

        mid = scales[-2] if len(scales) > 2 else lo
        summary = {}
        regime_blurb = {
            "distinct": "(copies share zero shingles — growth is genuinely "
            "new content)",
            "similar": "(copies are ~0.45-Jaccard similar — adversarial "
            "co-occurrence for the inverted-index join)",
            "cep": "(events replicated with FRESH correlation keys — "
            "constant per-key stream and match density; growth adds "
            "users, the production axis for the state-machine path)",
        }[mode]
        lines += [
            f"## Regime: {mode} {regime_blurb}",
            "",
            "| query | "
            + " | ".join(f"{s}x sec (rows)" for s in scales)
            + " | alpha | alpha_hi |",
            "|---|" + "---|" * (len(scales) + 2),
        ]
        for name in queries:
            r = results[name]
            alpha = math.log(r[hi]["sec"] / r[lo]["sec"]) / math.log(
                n_docs[hi] / n_docs[lo]
            )
            alpha_hi = math.log(r[hi]["sec"] / r[mid]["sec"]) / math.log(
                n_docs[hi] / n_docs[mid]
            )
            summary[name] = {
                "alpha": round(alpha, 3),
                "alpha_hi": round(alpha_hi, 3),
            }
            cells = " | ".join(
                f"{r[s]['sec']:.2f} ({r[s]['rows']})" for s in scales
            )
            lines.append(f"| {name} | {cells} | {alpha:.2f} | {alpha_hi:.2f} |")
        lines.append("")
        doc[mode] = {"n_docs": n_docs, "results": results, "alpha": summary}

    lines += [
        "Notes: rows grow ~linearly for the Jaccard-threshold queries in "
        "both regimes (constant planted-dup density per copy). "
        "pipe_simhash rows under-scale by design — its hamming-1..3 "
        "'loose' pairs between non-identical docs drift apart under the "
        "perturbation while exact-dup pairs replicate. In the `similar` "
        "regime pipe_jaccard_pairs pays real shingle co-occurrence "
        "growth; since round 8 its candidates come from a PREFIX-FILTERED "
        "index with PPJoin positional filtering (candidate count grows "
        "~linearly even here — pinned in tests/test_scale_growth.py), so "
        "the historical alpha_hi 1.65 of the plain inverted-index join "
        "no longer applies. minhash_lsh remains the preferred discovery "
        "path at 100 TB; jaccard_pairs is exact and now scale-safe for "
        "verification and moderate corpora. In the `cep` regime the "
        "per-key state machines are embarrassingly parallel, so alpha "
        "should sit at ~1 once fixed per-job overhead amortizes "
        "(alpha_hi, the top-step exponent, is the number to read).",
        "",
        "## Incremental-index regime (pinned deterministically, not "
        "soaked)",
        "",
        "`dedup_index_probe` (operators/dedup_index.py) is the "
        "build-once/probe-many deployment of dedup: its per-probe cost "
        "is O(|increment| + |candidates|) plus an exchange-free bucketed "
        "scan of the stored digest/band tables. Wall-time at this "
        "corpus size is scheduling noise, so the scale contract is "
        "pinned on the deterministic cost driver instead "
        "(tests/test_scale_growth.py::"
        "test_index_probe_candidates_are_increment_bound): growing the "
        "corpus 3x with distinct content leaves a fixed increment's "
        "band-collision candidate count and exact-match count "
        "UNCHANGED (<=1.25x observed, vs ~3x if probe cost tracked "
        "corpus size). The same distinct-regime reasoning bounds "
        "`semdedup`: pair volume is within-cluster only, so it "
        "replicates per copy (~linear), never corpus-wide.",
        "",
        "## Durability of pinned intermediates",
        "",
        "One rule, in one function "
        "(`operators.dedup.pin_intermediate`): every pinned "
        "intermediate truncates its lineage, and the session's "
        "checkpoint directory decides how durably. With "
        "`sc.setCheckpointDir` set (standard on cluster runs) the pin "
        "is a reliable `checkpoint()` — replicated files, so losing an "
        "executor mid-query does not kill a multi-hour job; set it for "
        "any run whose wall-clock exceeds the cluster's expected "
        "executor MTBF. Without one the pin is `localCheckpoint`: "
        "fastest locally, but the blocks live non-replicated on "
        "executor local storage, and `session.release_checkpoint_caches` "
        "sweeps them between queries. Results are identical either way "
        "(tests/test_pipeline_ops.py::"
        "test_checkpoint_dir_pin_matches_local_checkpoint_results).",
        "",
        "```json",
        json.dumps(doc, indent=2),
        "```",
        "",
    ]
    md = "\n".join(lines)
    print(md)
    if args.md:
        with open(args.md, "w") as f:
            f.write(md)
    if not args.keep:
        shutil.rmtree(args.workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
