"""Workload ``curation``: batch near-dup detection, then an incremental
dedup index.

One repetition runs ``jaccard_pairs`` and ``dedup_clusters`` on the
corpus, builds the index with ``dedup_index_build``, then feeds the
increments in order: each is probed (``dedup_index_probe``), its flagged
docs dropped, and the survivors appended (``dedup_index_add``) — so later
increments read what earlier ones wrote. The output check compares pairs,
clusters and probe flags with the generator's planted truth."""

from __future__ import annotations

import os
import time

import gen
from stats import median, percentile

N_DOCS = 1_000
N_INCREMENTS = 2
INCREMENT_DOCS = 100
INDEX = "pb_idx"


def _write(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    }), path)


def _inputs(b, seed: int, n_docs: int, n_inc: int, inc_docs: int, tag: str):
    """Write corpus and increments as parquet; return their paths and the
    generator's truth."""
    corpus = gen.Corpus(seed, n_docs)
    paths = {"corpus": b.path(f"{tag}-corpus.parquet")}
    _write(corpus.rows(corpus.corpus_ids), paths["corpus"])
    truth = {"pairs": corpus.pairs_truth(), "clusters": corpus.clusters_truth(),
             "increments": []}
    for k in range(n_inc):
        rows, flags = corpus.increment(inc_docs)
        paths[k] = b.path(f"{tag}-inc{k}.parquet")
        _write(rows, paths[k])
        truth["increments"].append(flags)
    truth["text_bytes"] = sum(
        len(corpus.texts[d].encode()) for d in corpus.stored)
    return paths, truth


def pipeline(b, spark, paths, n_inc: int, name: str) -> dict:
    """One repetition; returns timings and the collected outputs."""
    from php_ec_spark.operators.dedup import dedup_clusters, jaccard_pairs
    from php_ec_spark.operators.dedup_index import (
        dedup_index_add, dedup_index_build, dedup_index_drop, dedup_index_probe)

    df = spark.read.parquet(paths["corpus"])
    out = {"cc_stats": {}}
    with b.tracer.span("operators.dedup.jaccard") as tj:
        with b.tracer.span("construct"):
            pairs = jaccard_pairs(df)
        with b.tracer.span("action"):
            out["pairs"] = pairs.collect()
    with b.tracer.span("operators.dedup.clusters") as tc:
        with b.tracer.span("construct"):
            clusters = dedup_clusters(df, stats=out["cc_stats"])
        with b.tracer.span("action"):
            out["clusters"] = clusters.collect()
    with b.tracer.span("operators.dedup_index.build") as tb:
        dedup_index_build(df, name)
    b.ops.attempt(3)
    b.sample()
    out["batch_s"] = tj.seconds + tc.seconds + tb.seconds
    out["build_s"] = tb.seconds
    out["flags"], out["inc_s"], out["probe_s"], out["add_s"] = [], [], [], []
    for k in range(n_inc):
        inc = spark.read.parquet(paths[k])
        with b.tracer.span("operators.dedup_index.increment") as ti:
            with b.tracer.span("operators.dedup_index.probe") as tp:
                probed = dedup_index_probe(spark, name, inc).select(
                    "doc_id", "text", "exact_dup_of", "near_dup_of"
                ).localCheckpoint(eager=True)
            flags = probed.select("doc_id", "exact_dup_of", "near_dup_of").collect()
            survivors = probed.filter(
                "exact_dup_of IS NULL AND near_dup_of IS NULL"
            ).select("doc_id", "text")
            with b.tracer.span("operators.dedup_index.add") as ta:
                dedup_index_add(spark, name, survivors)
        b.ops.attempt()
        b.sample()
        out["flags"].append({r.doc_id: (r.exact_dup_of, r.near_dup_of) for r in flags})
        out["inc_s"].append(ti.seconds)
        out["probe_s"].append(tp.seconds)
        out["add_s"].append(ta.seconds)
    out["index_files"], out["index_bytes"] = _index_size(b, name)
    dedup_index_drop(spark, name)
    b.release()
    return out


def _index_size(b, name: str) -> tuple[int, int]:
    files = size = 0
    wh = b.path("warehouse")
    for d in os.listdir(wh) if os.path.isdir(wh) else ():
        if not d.startswith(name):
            continue
        for root, _, names in os.walk(os.path.join(wh, d)):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def check(out, truth) -> list[str]:
    errors = []
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out["pairs"]}
    if pairs != truth["pairs"]:
        errors.append(f"curation: {len(pairs)} jaccard pairs, planted "
                      f"{len(truth['pairs'])}; {len(set(pairs.items()) ^ set(truth['pairs'].items()))} differ")
    clusters = {r.doc_id: r.cluster_id for r in out["clusters"]}
    if clusters != truth["clusters"]:
        errors.append("curation: dedup_clusters labels differ from the "
                      "planted families")
    for k, (got, want) in enumerate(zip(out["flags"], truth["increments"])):
        if got != want:
            bad = sum(1 for d in want if got.get(d) != want[d])
            errors.append(f"curation: increment {k}: {bad} probe flags differ")
    return errors


def run(b) -> dict:
    paths, truth = _inputs(b, b.seed, N_DOCS, N_INCREMENTS, INCREMENT_DOCS, "run")
    warm = b.path("warm-corpus.parquet")
    small = gen.Corpus(b.seed + 1, 60)
    _write(small.rows(small.corpus_ids), warm)

    def warmup(spark):
        # the batch operators' plan shapes only: warming the index calls
        # too would double the set-up time (each is a series of small
        # catalog writes), so the first build and increment run cold
        from php_ec_spark.operators.dedup import dedup_clusters, jaccard_pairs

        df = spark.read.parquet(warm)
        jaccard_pairs(df).collect()
        dedup_clusters(df).collect()
        b.release()

    b.mark("inputs")
    b.setup(warmup)
    spark = b.spark
    reps, errors = [], []
    deadline = time.perf_counter() + b.seconds
    while not reps or time.perf_counter() < deadline:
        out = pipeline(b, spark, paths, N_INCREMENTS, INDEX)
        errors += check(out, truth)
        reps.append(out)
    b.mark("measure+check")
    inc_s = [s for r in reps for s in r["inc_s"]]
    b.notes.update(reps=len(reps), batch_s=[round(r["batch_s"], 4) for r in reps],
                   inc_s=[round(s, 4) for s in inc_s])
    layer = {}
    if b.trace:
        from php_ec_spark.operators.dedup import jaccard_pairs

        # warm untraced jaccard_pairs: the tracing overhead's baseline
        t0 = time.perf_counter()
        jaccard_pairs(spark.read.parquet(paths["corpus"])).collect()
        untraced = time.perf_counter() - t0
        b.release()
        layer = _layers(b, spark, paths, reps, truth)
        jac = b.tracer.find("operators.dedup.jaccard")
        layer["trace.overhead_share"] = (
            median([s.duration for s in jac]) / untraced - 1.0)
    return {
        "correct": not errors,
        "errors": errors,
        "throughput_per_s": N_DOCS / median([r["batch_s"] for r in reps]),
        "latency_p50_ms": percentile(inc_s, 50) * 1e3,
        "latency_p90_ms": percentile(inc_s, 90) * 1e3,
        "layer": layer,
    }


def _layers(b, spark, paths, reps, truth) -> dict:
    from php_ec_spark.operators.dedup import prefix_candidates

    _, cand = prefix_candidates(spark.read.parquet(paths["corpus"]))
    n_cand = cand.count()
    b.release()
    b.attribute()
    last = reps[-1]

    def parts(name):
        op = b.tracer.find(name)[-1]
        kids = {c.name: c for c in b.tracer.children(op)}
        return op, kids["construct"], kids["action"]

    out = {}
    for short in ("jaccard", "clusters"):
        op, con, act = parts(f"operators.dedup.{short}")
        pre = f"operators.dedup.{short}."
        out[pre + "construct_s"] = con.duration
        out[pre + "action_s"] = act.duration
        out[pre + "jobs_construct"] = con.attrs["jobs"]
        out[pre + "jobs_action"] = act.attrs["jobs"]
        out[pre + "shuffle_bytes"] = op.attrs["shuffle_bytes"]
    out["operators.dedup.jaccard.cand_pairs"] = n_cand
    out["operators.dedup.jaccard.verified_share"] = (
        len(last["pairs"]) / n_cand if n_cand else 0.0)
    out["operators.dedup.clusters.cc_rounds"] = last["cc_stats"].get("rounds", 0)
    build = b.tracer.find("operators.dedup_index.build")[-1]
    probes = b.tracer.find("operators.dedup_index.probe")[-N_INCREMENTS:]
    adds = b.tracer.find("operators.dedup_index.add")[-N_INCREMENTS:]
    flags = [v for f in last["flags"] for v in f.values()]
    out.update({
        "operators.dedup_index.build_s": build.duration,
        "operators.dedup_index.build_jobs": build.attrs["jobs"],
        "operators.dedup_index.build_bytes_written": build.attrs["output_bytes"],
        "operators.dedup_index.probe_s_p50": percentile([p.duration for p in probes], 50),
        "operators.dedup_index.probe_jobs": sum(p.attrs["jobs"] for p in probes),
        "operators.dedup_index.probe_shuffle_bytes": sum(p.attrs["shuffle_bytes"] for p in probes),
        "operators.dedup_index.exact_hits": sum(1 for e, _ in flags if e is not None),
        "operators.dedup_index.near_hits": sum(1 for _, n in flags if n is not None),
        "operators.dedup_index.add_s_p50": percentile([a.duration for a in adds], 50),
        "operators.dedup_index.add_jobs": sum(a.attrs["jobs"] for a in adds),
        "operators.dedup_index.add_bytes_written": sum(a.attrs["output_bytes"] for a in adds),
        "operators.dedup_index.files": last["index_files"],
        "operators.dedup_index.bytes_per_input_byte": last["index_bytes"] / truth["text_bytes"],
    })
    return out
