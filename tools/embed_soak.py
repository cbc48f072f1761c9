"""Empirical scale soak for the EMBEDDING-family operators (SCALE.md's
embedding-regime section generator).

`tools/scale_soak.py` measures the text-side plans; the embedding
operators' scale claims (semdedup ~linear, IVF probe cost ~flat in the
corpus, exact top-k linear) were until now reasoned in SCALE.md, not
measured. This tool measures them under the same constant-density
discipline:

Corpus synthesis (`synthesize_embeddings`): copy c of the sf0.1
`embeddings` table applies a copy-seeded SIGNED COORDINATE PERMUTATION
to every vector — an orthogonal transform, so every within-copy inner
product (hence every cosine, every dup pair, every cluster shape) is
preserved EXACTLY, while cross-copy cosines collapse to the random
baseline (~N(0, 1/sqrt(64)): a 0.6 threshold sits ~5 sigma out). Ids get
the `vec_id*100 + copy` convention of the text soak; labels get
`label*100 + copy` so provided-cluster operators see constant CELL SIZE
and a linearly growing cell COUNT — corpus growth adds new content, the
production regime (a 100 TB crawl does not grow by inflating one
cluster; the skew valve covers that axis separately, fuzz-pinned in
tests/test_pipeline_ops.py).

Quantizer sizing: self-trained stages get ``n_clusters = C0 * scale``
and a FIXED training sample (the operator's documented sample-bounded
contract) — the standard IVF discipline of keeping cells near a target
size as the corpus grows. Under it the expected curves are:

- `cosine_topk` (exact, fixed 64-query batch): brute force over the
  corpus — alpha ~= 1. The baseline the IVF split exists to beat.
- `ivf_search` (fixed batch, nprobe=2, C grows with N): probed slice =
  nprobe cells of CONSTANT size — alpha ~= 0 (flat), the partition-
  pruning claim measured rather than plan-pinned (``shards='auto'``).
- `cosine_dup_pairs` (bucketed by the provided label): Sigma|cell|^2
  with constant cells — alpha ~= 1.
- `semdedup` (self-trained quantizer): sample-bounded training
  (sample_size fixed => training flops ~ C ~ N), scan-local assignment
  GEMM (N*C*d flops — the one super-linear term at fixed d; a real
  deployment caps it with a hierarchical coarse quantizer, noted in
  SCALE.md), within-cell pair volume linear — alpha ~= 1 until the
  assignment GEMM dominates.

Usage:
    PYTHONPATH=/root/repo python tools/embed_soak.py \
        [--scales 1,4,16] [--iters 3] [--sf-dir /root/testdata/sf0.1] \
        [--workdir /tmp/embed_soak] [--json out.json]

Prints a markdown table + JSON blob; paste/merge into SCALE.md (that
file carries hand-written context sections, so unlike scale_soak.py
this tool never overwrites it).
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

C0 = 10  # label cells at 1x (sf0.1 embeddings carry 10 distinct labels)
QUERY_BATCH = 64  # fixed probe batch (copy-0 originals)


def synthesize_embeddings(spark, sf_dir: str, scale: int, out_dir: str) -> str:
    """Write a scale-x embeddings.parquet under out_dir/x{scale}; returns
    that directory. Copy 0 is byte-identical to the source; copy c>0 is
    the copy-seeded signed-permutation rotation described in the module
    docstring."""
    import numpy as np
    from pyspark.sql import functions as F

    dst = os.path.join(out_dir, f"x{scale}")
    dest_parquet = os.path.join(dst, "embeddings.parquet")
    # a bare directory is NOT a valid cache — a run killed mid-write
    # leaves partial parquet with no _SUCCESS marker, and silently
    # reusing it would put truncated-corpus numbers into SCALE.md
    if os.path.exists(os.path.join(dest_parquet, "_SUCCESS")):
        return dst
    shutil.rmtree(dest_parquet, ignore_errors=True)
    if scale > 100:
        raise ValueError(f"scale {scale} > 100 would collide synthesized ids")
    os.makedirs(dst, exist_ok=True)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # scale 1 goes through the SAME copy-0 path (identity transform) so
    # the vec_id*100 / label*100 id convention — and hence the fixed
    # query-batch predicate — is uniform across scales
    dim = len(emb.select("embedding").first()[0])
    rows = []
    for c in range(scale):
        rng = np.random.RandomState(10_000 + c)
        perm = rng.permutation(dim).tolist()
        signs = (rng.randint(0, 2, size=dim) * 2 - 1).astype("float64").tolist()
        rows.append((c, perm, signs))
    maps = spark.createDataFrame(rows, "copy int, perm array<int>, signs array<float>")
    rotated = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            F.element_at("signs", i + F.lit(1))
            * F.element_at(
                F.col("embedding"), F.element_at("perm", i + F.lit(1)) + F.lit(1)
            )
        ).cast("float"),
    )
    big = emb.crossJoin(F.broadcast(maps)).select(
        (F.col("vec_id") * 100 + F.col("copy")).alias("vec_id"),
        F.when(F.col("copy") == 0, F.col("embedding"))
        .otherwise(rotated)
        .alias("embedding"),
        (F.col("label") * 100 + F.col("copy")).cast("int").alias("label"),
    )
    big.repartition(32).write.mode("overwrite").parquet(dest_parquet)
    return dst


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default="/tmp/embed_soak")
    ap.add_argument("--json", default=None)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import functions as F

    from php_ec_spark.operators.similarity import (
        cosine_dup_pairs,
        cosine_topk,
        ivf_build,
        ivf_search,
        semdedup,
    )
    from php_ec_spark.session import get_spark, release_checkpoint_caches

    spark = get_spark(app_name="php-ec-spark-embed-soak")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn):
        best, rows = None, 0
        for _ in range(args.iters):
            t0 = time.perf_counter()
            rows = fn().count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            release_checkpoint_caches(spark)
        return round(best, 3), rows

    results: dict[str, dict[int, dict]] = {}
    n_vecs: dict[int, int] = {}
    build_sec: dict[int, float] = {}
    for scale in scales:
        sdir = synthesize_embeddings(spark, args.sf_dir, scale, args.workdir)
        emb = spark.read.parquet(os.path.join(sdir, "embeddings.parquet"))
        n = emb.count()
        n_vecs[scale] = n
        C = C0 * scale
        # fixed probe batch: the copy-0 originals of the first QUERY_BATCH
        # source vectors — identical vectors at every scale
        queries = emb.filter(
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < QUERY_BATCH * 100)
        )
        idx = os.path.join(args.workdir, f"ivf_x{scale}")
        t0 = time.perf_counter()
        ivf_build(emb, idx, cluster_col="label")  # labels: C cells, constant size
        build_sec[scale] = round(time.perf_counter() - t0, 3)
        print(
            f"# scale {scale}x: {n} vecs, C={C}, ivf_build {build_sec[scale]}s",
            file=sys.stderr,
        )

        cases = {
            "cosine_topk_exact": lambda: cosine_topk(
                emb, queries.select("vec_id", "embedding"), k=5
            ),
            "ivf_search": lambda: ivf_search(
                spark, idx, queries, k=5, nprobe=2, shards="auto"
            ),
            "cosine_dup_pairs_bucketed": lambda: cosine_dup_pairs(
                emb, threshold=0.4, cluster_col="label"
            ),
            "semdedup_selftrained": lambda: semdedup(
                emb.select("vec_id", "embedding"),
                n_clusters=C,
                threshold=0.6,
                sample_size=4000,
            ),
        }
        for name, fn in cases.items():
            sec, rows = timed(fn)
            results.setdefault(name, {})[scale] = {"sec": sec, "rows": rows}
            print(f"# {name} @ {scale}x: {sec:.3f}s ({rows} rows)", file=sys.stderr)

    lo, hi = scales[0], scales[-1]
    mid = scales[-2] if len(scales) > 2 else lo
    fit = len(scales) > 1  # one scale = a point re-measure, no exponent
    lines = [
        "| operator | "
        + " | ".join(f"{s}x sec (rows)" for s in scales)
        + (" | alpha | alpha_hi |" if fit else " |"),
        "|---|" + "---|" * (len(scales) + (2 if fit else 0)),
    ]
    summary = {}
    for name, r in results.items():
        cells = " | ".join(f"{r[s]['sec']:.2f} ({r[s]['rows']})" for s in scales)
        if not fit:
            lines.append(f"| {name} | {cells} |")
            continue
        alpha = math.log(r[hi]["sec"] / r[lo]["sec"]) / math.log(
            n_vecs[hi] / n_vecs[lo]
        )
        alpha_hi = math.log(r[hi]["sec"] / r[mid]["sec"]) / math.log(
            n_vecs[hi] / n_vecs[mid]
        )
        summary[name] = {"alpha": round(alpha, 3), "alpha_hi": round(alpha_hi, 3)}
        lines.append(f"| {name} | {cells} | {alpha:.2f} | {alpha_hi:.2f} |")
    lines.append("")
    lines.append(
        "ivf_build (untimed-loop, once per scale): "
        + ", ".join(f"{s}x={build_sec[s]}s" for s in scales)
    )
    doc = {
        "n_vecs": n_vecs,
        "C": {s: C0 * s for s in scales},
        "build_sec": build_sec,
        "results": results,
        "alpha": summary,
    }
    print("\n".join(lines))
    print("```json\n" + json.dumps(doc, indent=2) + "\n```")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(doc, f, indent=2)
    if not args.keep:
        shutil.rmtree(args.workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
