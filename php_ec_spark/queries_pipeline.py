"""Training-data pipeline queries: dedup, similarity, text, multimodal.

Spark side uses the operators in :mod:`php_ec_spark.operators`; oracles are
exact ANSI-SQL twins. Float outputs (jaccard, cosine) are ratios of exact
integers or sequentially-folded dot products, rounded to 6 dp on both
engines; rankings order by the rounded value + integer tie-break so top-k
membership is deterministic.

MinHash-LSH keeps its oracle because the banded candidate recall at the
0.8 threshold is 1 − (1−J⁴)³² ≥ 1 − 5e-8 — verified equal to the exact
inverted-index pairs on the test tables (tests/test_pipeline_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register
from .session import read_parquet
from .operators.dedup import (
    dedup_clusters,
    dup_span_stats,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from .operators.lm import with_lm_bits
from .operators.multimodal import attach_blob, extract_image_meta
from .operators.similarity import cosine_dup_pairs, cosine_topk
from .operators.text import (
    with_bpe_token_count,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_stats,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/embeddings.parquet")


# Shared oracle fragment: distinct 3-token shingles per document, matching
# operators.dedup.with_shingles (docs shorter than 3 tokens collapse to one
# whole-text shingle).
_SHINGLES = r"""
        WITH tok AS (
            -- with_shingles' tokenization exactly: split(trim, '\s+')
            -- (single-space string_split diverges on repeated/tab/edge
            -- whitespace; pipe_simhash already uses this convention);
            -- NULL text ≡ '' mirrors with_shingles' coalesce so null-text
            -- docs shingle as [''] instead of vanishing
            SELECT doc_id,
                   string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct([
                            array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)
                        ])
                   END AS shingles
            FROM tok
        )
"""

_PAIRS = _SHINGLES + """
        , pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(
                       len(list_intersect(a.shingles, b.shingles))::DOUBLE
                       / len(list_distinct(a.shingles || b.shingles)), 6
                   ) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""


@register(
    "pipe_dedup_exact",
    doc="Exact dedup: hash-groupBy on normalized text, survivor = min doc_id.",
    oracle=r"""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
               min(doc_id) AS doc_id,
               count(*) AS dup_count
        FROM documents GROUP BY 1
    """,
)
def pipe_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


@register(
    "pipe_jaccard_pairs",
    headline=True,
    doc="EXACT n-gram Jaccard near-dup pairs via a PREFIX-FILTERED "
    "inverted index (Chaudhuri/Bayardo prefix + PPJoin positional "
    "filter, exact set-intersection verify — lossless, candidate "
    "volume ~linear even in co-occurrence-heavy corpora, see SCALE.md) "
    "WITH the max_df stop-shingle guard enabled (shingles in >5% of "
    "docs are dropped; sizes recomputed in filtered space); oracle "
    "mirrors the same filtered-space definition.",
    oracle=_SHINGLES + """
        , inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), lim AS (
            SELECT greatest(1, CAST(floor(0.05 * count(*)) AS BIGINT)) AS max_df
            FROM documents
        ), keep AS (
            SELECT shingle FROM inv GROUP BY shingle
            HAVING count(*) <= (SELECT max_df FROM lim)
        ), finv AS (
            SELECT i.doc_id, i.shingle FROM inv i JOIN keep k USING (shingle)
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM finv GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM finv a JOIN finv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
    """,
)
def pipe_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return jaccard_pairs(docs, threshold=0.8, max_df=_jaccard_max_df(docs))


def _jaccard_max_df(docs: DataFrame) -> DataFrame:
    """The 5% document-frequency cutoff as a LAZY 1-row frame —
    greatest(1, floor(0.05·n)), the oracle's ``lim`` CTE verbatim.
    Passed to :func:`jaccard_pairs` as a broadcast scalar subquery so
    query construction no longer pays a blocking ``docs.count()``
    round-trip (two driver-synchronous jobs per build; the count now
    rides the query's own execution as a metadata-cheap aggregate).
    Same arithmetic as the former ``max(1, int(n * 0.05))``: IEEE double
    multiply on both engines, and floor == int-truncation for the
    non-negative product."""
    return docs.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.count(F.lit(1)) * F.lit(0.05)),
        ).alias("max_df")
    )


def jaccard_candidate_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Candidate-volume telemetry for ``pipe_jaccard_pairs`` (round-16
    verdict #7): how many candidate pairs the prefix filter admits to
    exact verification, as a NUMBER recorded next to the plan bytes
    instead of prose — the documented prefix-filter trade (the slowest
    headline query, ~21% of the total) becomes trackable across rounds,
    and "candidates dominate verification" becomes a measurable trigger
    for evaluating PPJoin+ suffix filtering.

    Runs the same candidate machinery as the registered query (same
    threshold / max_df derivation) ONE extra time and counts the lazy
    candidate frame. bench.py calls this UNTIMED, after every measured
    window — the timed plan/byte record (and plan_fp) stays
    byte-identical to a telemetry-free run, which is the property the
    cross-round drift adjudication depends on. Returns
    ``{"cand_pairs": N}``; emitted-pair count rides alongside from the
    bench's own row counts."""
    from .operators.dedup import prefix_candidates

    docs = _docs(spark, sf_dir)
    _, cand = prefix_candidates(
        docs, threshold=0.8, max_df=_jaccard_max_df(docs)
    )
    return {"cand_pairs": cand.count()}


def minhash_candidate_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Band-collision candidate count for ``pipe_minhash_lsh`` — the
    LSH analog of :func:`jaccard_candidate_stats` (band collisions are
    THE cost driver of the banded join at scale: Σ over (band, bh)
    buckets of pairs, the quantity the 32×4 banding trades against
    recall). Same untimed-collection contract; mirrors the registered
    query's parameters exactly. Returns ``{"cand_pairs": N}`` (distinct
    unordered pairs admitted to exact-Jaccard verification)."""
    from .operators.dedup import with_band_keys

    banded = with_band_keys(_docs(spark, sf_dir))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    return {"cand_pairs": cand.count()}


#: headline-query → untimed telemetry collector; bench.py runs each
#: AFTER all measured windows and merges the numbers into the metrics
#: sidecar entry for that query (plan_fp ignores the extra keys)
CANDIDATE_TELEMETRY = {
    "pipe_jaccard_pairs": jaccard_candidate_stats,
    "pipe_minhash_lsh": minhash_candidate_stats,
}


@register(
    "pipe_minhash_lsh",
    headline=True,
    doc="MinHash(128)+LSH(32×4) banded candidates → exact-Jaccard verify; "
    "recall at J≥0.8 is 1−5e-8, so output equals the exact pair set.",
    oracle=_PAIRS,
)
def pipe_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8)


@register(
    "pipe_dedup_clusters",
    headline=True,
    doc="Near-dup clusters: connected components over the >=0.8 Jaccard "
    "pair graph via two-phase large-star/small-star contraction (the "
    "non-SQL-shaped algorithm, SoCC'14); oracle derives identical "
    "labels with a recursive CTE.",
    oracle=(_SHINGLES + """
        , pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE round(
                      len(list_intersect(a.shingles, b.shingles))::DOUBLE
                      / len(list_distinct(a.shingles || b.shingles)), 6
                  ) >= 0.8
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), reach AS (
            SELECT doc_id AS doc, doc_id AS lbl FROM documents
            UNION
            SELECT e.dst AS doc, r.lbl
            FROM reach r JOIN edges e ON e.src = r.doc
        )
        SELECT doc AS doc_id, min(lbl) AS cluster_id
        FROM reach GROUP BY doc
    """).replace("WITH tok", "WITH RECURSIVE tok", 1),
)
def pipe_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(_docs(spark, sf_dir), threshold=0.8)


@register(
    "pipe_simhash",
    headline=True,
    doc="SimHash near-dup pairs (Hamming ≤ 3 via 15-bit chunk banding, "
    "full recall by pigeonhole). The 60-bit fingerprint is built from "
    "md5-derived token hashes that compute identically in both engines, "
    "so the oracle brute-forces the exact same pair set.",
    oracle="""
        WITH tok AS (
            -- NULL text ≡ '' (with_simhash's kernel treats None as '')
            SELECT doc_id,
                   list_distinct(
                       string_split_regex(trim(coalesce(text, '')), '\\s+')
                   ) AS toks
            FROM documents
        ), th AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
        ), bits AS (
            SELECT doc_id, j.j,
                   CASE WHEN sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                        THEN (1::BIGINT << j.j) ELSE 0 END AS bitval
            FROM th, (SELECT unnest(range(0, 60)) AS j) j
            GROUP BY doc_id, j.j
        ), fp AS (
            SELECT doc_id, sum(bitval)::BIGINT AS simhash FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def pipe_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "pipe_text_stats",
    doc="Per-document text signals consolidated as kind rows (the "
    "round-10 pattern; non-headline slot). kind='stats': token/char "
    "counts + lexical stats + quality score, pure codegen arithmetic. "
    "kind='pii': scrub_pii over text with deterministic synthetic PII "
    "appended (testdata text is clean word soup, so the scrub must be "
    "PROVEN to fire) — n_removed = placeholder count, text_md5 pins the "
    "scrubbed bytes. kind='lines': remove_dup_lines (RefinedWeb-style "
    "line-level boilerplate removal) over a token-per-line rendering of "
    "each doc — n_total/n_removed = line counts, text_md5 pins the "
    "rebuilt text byte-for-byte. kind='url': normalize_url over messy "
    "synthesized URLs (case/port/www/userinfo/tracking-params/dup-slash/"
    "fragment/protocol-relative variants) — text_md5 pins the canonical "
    "form. All three were previously pytest-only byte-parity twins; "
    "these rows put them under the driver hash.",
    oracle=r"""
        WITH lraw AS (
            SELECT doc_id, unnest(ls) AS line,
                   generate_subscripts(ls, 1) AS pos
            FROM (SELECT doc_id,
                         string_split(
                             regexp_replace(text, '\s+', chr(10), 'g'),
                             chr(10)) AS ls
                  FROM documents)
        ), l AS (
            SELECT doc_id, line, pos,
                   md5(lower(trim(regexp_replace(line, '\s+', ' ', 'g'))))
                       AS lkey,
                   lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS norm
            FROM lraw
        ), lcommon AS (
            SELECT lkey FROM l WHERE norm <> ''
            GROUP BY lkey HAVING count(*) >= 2
        ), lkept AS (
            SELECT * FROM l WHERE lkey NOT IN (SELECT lkey FROM lcommon)
        ), lre AS (
            SELECT l.doc_id, count(*) AS lines_total,
                   (SELECT count(*) FROM lkept k
                    WHERE k.doc_id = l.doc_id) AS kept_n,
                   (SELECT string_agg(k.line, chr(10) ORDER BY k.pos)
                    FROM lkept k WHERE k.doc_id = l.doc_id) AS kept_text
            FROM l GROUP BY l.doc_id
        ), pin AS (
            SELECT doc_id,
                   text || ' contact u' || CAST(doc_id AS VARCHAR)
                        || '@ex.com ip 10.0.0.'
                        || CAST(doc_id % 200 AS VARCHAR) AS ptext
            FROM documents
        ), pscrub AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(ptext,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g'),
                       '\+?[0-9][0-9()\-. ]{7,}[0-9]\b',
                       '<PHONE>', 'g') AS s
            FROM pin
        ), uraw AS (
            SELECT doc_id,
                   CASE doc_id % 6
                        WHEN 0 THEN 'HTTP://WWW.Example.COM:80//a//'
                             || CAST(doc_id AS VARCHAR)
                             || '/?utm_source=x&b=2&a=1#frag'
                        WHEN 1 THEN 'https://User:Pw@Host'
                             || CAST(doc_id % 10 AS VARCHAR)
                             || '.ORG:443/Path/' || CAST(doc_id AS VARCHAR)
                             || '?z=1&y=&fbclid=abc'
                        WHEN 2 THEN '//cdn.example.net/img/'
                             || CAST(doc_id AS VARCHAR)
                             || '.png?gclid=1&id=' || CAST(doc_id AS VARCHAR)
                        WHEN 3 THEN 'example.org/' || CAST(doc_id AS VARCHAR)
                             || '///deep/path//'
                        WHEN 4 THEN 'FTP://Mirror.Example.IO:21/pub/'
                             || CAST(doc_id AS VARCHAR)
                        ELSE NULL
                   END AS url
            FROM documents
        ), u0 AS (
            SELECT doc_id, regexp_replace(trim(url), '#.*$', '', 'g') AS x
            FROM uraw
        ), u1 AS (
            SELECT doc_id,
                   CASE WHEN regexp_matches(x, '^//') THEN 'http:' || x
                        ELSE x END AS x
            FROM u0
        ), u2 AS (
            SELECT doc_id,
                   lower(regexp_extract(x, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                       AS sch0,
                   regexp_replace(regexp_replace(
                       x, '^[A-Za-z][A-Za-z0-9+.-]*://', '', 'g'),
                       '^[^/?@]*@', '', 'g') AS rest
            FROM u1
        ), u3 AS (
            SELECT doc_id,
                   CASE WHEN sch0 = '' THEN 'http' ELSE sch0 END AS sch,
                   lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
                   regexp_replace(rest, '^[^/?]*', '', 'g') AS pathq
            FROM u2
        ), u4 AS (
            SELECT doc_id, sch,
                   CASE WHEN sch = 'http'
                            THEN regexp_replace(hostport, ':80$', '')
                        WHEN sch = 'https'
                            THEN regexp_replace(hostport, ':443$', '')
                        ELSE hostport END AS host0,
                   regexp_replace(regexp_replace(
                       regexp_extract(pathq, '^([^?]*)', 1), '//+', '/', 'g'),
                       '/+$', '') AS path,
                   regexp_extract(pathq, '\?(.*)$', 1) AS query
            FROM u3
        ), u5 AS (
            SELECT doc_id, sch,
                   regexp_replace(host0, '^www\.', '') AS host, path,
                   coalesce(array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       x -> x <> '' AND NOT regexp_matches(x,
                           '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref_src)=')
                   )), '&'), '') AS q
            FROM u4
        ), unorm AS (
            SELECT doc_id,
                   sch || '://' || host || path ||
                   CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_norm
            FROM u5
        )
        SELECT 'stats' AS kind, doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
               round(
                   (length(text) - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
                   / (length(text) - length(replace(text, ' ', '')) + 1), 6
               ) AS avg_token_len,
               round(
                   (len(list_distinct(string_split(text, ' ')))::DOUBLE
                    / (length(text) - length(replace(text, ' ', '')) + 1))
                   * (CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                           BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END), 6
               ) AS quality_score,
               CAST(NULL AS BIGINT) AS n_total,
               CAST(NULL AS BIGINT) AS n_removed,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM documents
        UNION ALL
        SELECT 'pii' AS kind, doc_id,
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
               coalesce(CAST(
                   (length(s) - length(replace(s, '<EMAIL>', ''))) / 7
                   + (length(s) - length(replace(s, '<IP>', ''))) / 4
                   + (length(s) - length(replace(s, '<PHONE>', ''))) / 7
                   AS BIGINT), 0) AS n_removed,
               md5(s) AS text_md5
        FROM pscrub
        UNION ALL
        SELECT 'lines' AS kind, d.doc_id,
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE),
               coalesce(r.lines_total, 0) AS n_total,
               coalesce(r.lines_total, 0) - coalesce(r.kept_n, 0)
                   AS n_removed,
               md5(CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(r.kept_text, '') END) AS text_md5
        FROM documents d LEFT JOIN lre r ON r.doc_id = d.doc_id
        UNION ALL
        SELECT 'url' AS kind, doc_id,
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT) AS n_removed,
               md5(url_norm) AS text_md5
        FROM unorm
    """,
)
def pipe_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import remove_dup_lines
    from .operators.text import normalize_url, scrub_pii

    docs = _docs(spark, sf_dir)
    nulll = F.lit(None).cast("long")
    nulld = F.lit(None).cast("double")

    def _pad(df: DataFrame, kind: str, n_total, n_removed, text_md5):
        return df.select(
            F.lit(kind).alias("kind"),
            "doc_id",
            nulll.alias("n_chars"),
            nulll.alias("n_tokens"),
            nulll.alias("n_unique_tokens"),
            nulld.alias("avg_token_len"),
            nulld.alias("quality_score"),
            n_total.alias("n_total"),
            n_removed.alias("n_removed"),
            text_md5.alias("text_md5"),
        )

    stats = with_quality_score(docs).select(
        F.lit("stats").alias("kind"),
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_unique_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        "quality_score",
        nulll.alias("n_total"),
        nulll.alias("n_removed"),
        F.lit(None).cast("string").alias("text_md5"),
    )
    # synthetic-PII suffix: testdata text is clean word soup, so without
    # it the scrub would be pinned only as a no-op
    uid = F.col("doc_id").cast("string")
    pii = _pad(
        scrub_pii(
            docs.select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.lit(" contact u"),
                    uid,
                    F.lit("@ex.com ip 10.0.0."),
                    (F.col("doc_id") % 200).cast("string"),
                ).alias("text"),
            )
        ),
        "pii",
        nulll,
        F.col("pii_matches"),
        F.md5("text"),
    )
    # token-per-line rendering: every corpus-repeated token becomes a
    # boilerplate "line", exercising count/anti-join/ordered-rebuild for
    # real (testdata docs are single-line, which would pin a no-op)
    lines = _pad(
        remove_dup_lines(
            docs.select(
                "doc_id",
                F.regexp_replace("text", r"\s+", "\n").alias("text"),
            ),
            min_count=2,
        ),
        "lines",
        F.col("lines_total"),
        F.col("lines_removed"),
        F.md5("text"),
    )
    mod = F.col("doc_id") % 6
    url = _pad(
        normalize_url(
            docs.select(
                "doc_id",
                F.when(
                    mod == 0,
                    F.concat(
                        F.lit("HTTP://WWW.Example.COM:80//a//"),
                        uid,
                        F.lit("/?utm_source=x&b=2&a=1#frag"),
                    ),
                )
                .when(
                    mod == 1,
                    F.concat(
                        F.lit("https://User:Pw@Host"),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit(".ORG:443/Path/"),
                        uid,
                        F.lit("?z=1&y=&fbclid=abc"),
                    ),
                )
                .when(
                    mod == 2,
                    F.concat(
                        F.lit("//cdn.example.net/img/"),
                        uid,
                        F.lit(".png?gclid=1&id="),
                        uid,
                    ),
                )
                .when(
                    mod == 3,
                    F.concat(F.lit("example.org/"), uid, F.lit("///deep/path//")),
                )
                .when(
                    mod == 4,
                    F.concat(F.lit("FTP://Mirror.Example.IO:21/pub/"), uid),
                )
                .alias("url"),
            )
        ),
        "url",
        nulll,
        nulll,
        F.md5("url_norm"),
    )
    return stats.unionByName(pii).unionByName(lines).unionByName(url)


@register(
    "pipe_dup_spans",
    doc="The two ExactSubstr halves consolidated as kind rows (the "
    "round-10 consolidation pattern — pipe_dup_spans is not a bench "
    "headline, so the removal rows cost nothing where it matters). "
    "kind='stats': exact substring-duplication SIGNAL (Lee et al.-style) "
    "— fraction of each doc's 13-token windows (all positions, stride 1) "
    "appearing verbatim in >=2 distinct docs; md5 window hashes, linear "
    "in corpus tokens, no pairwise term. kind='removed': the EXCISION "
    "counterpart (remove_dup_spans) — every token covered by a window "
    "occurring >=2 times is removed except in the span's canonical "
    "(doc,start)-minimal occurrence; rows carry n_tokens/tokens_removed "
    "and text_md5 = md5 of the rebuilt text, so the driver hash pins the "
    "full rebuilt corpus byte-for-byte without shipping the text.",
    oracle=r"""
        WITH tok AS (
            -- NULL text ≡ '' (dup_span_stats' coalesce): the doc must
            -- appear in the per-doc output, not vanish on a null hash
            SELECT doc_id,
                   string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ), w AS (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) < 13
                     THEN [md5(array_to_string(toks, ' '))]
                     ELSE [md5(array_to_string(toks[i:i+12], ' '))
                           for i in range(1, len(toks) - 11)]
                END) AS wh
            FROM tok
        ), freq AS (
            SELECT wh, count(DISTINCT doc_id) AS nd FROM w GROUP BY wh
        ),
        -- removal half (remove_dup_spans' DuckDB twin, matured in
        -- tests/test_pipeline_ops.py): positional windows on docs long
        -- enough to see one, keeper = min (doc, start) per hash,
        -- covered-position anti-join, ordered rebuild
        d AS (
            SELECT doc_id, text,
                   string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ), wr AS (
            SELECT doc_id AS doc, i.i AS start,
                   md5(array_to_string(toks[i.i:i.i+12], ' ')) AS wh
            FROM d, LATERAL (
                SELECT unnest(range(1, len(toks) - 13 + 2)) AS i
            ) i
            WHERE len(toks) >= 13
        ), w2 AS (
            SELECT doc, start,
                   count(*) OVER (PARTITION BY wh) AS c,
                   row_number() OVER (
                       PARTITION BY wh ORDER BY doc, start
                   ) AS rk
            FROM wr
        ), cov AS (
            SELECT DISTINCT doc, start + k.k AS pos
            FROM w2, LATERAL (
                SELECT unnest(range(0, 13)) AS k
            ) k
            WHERE c >= 2 AND rk > 1
        ), tr AS (
            SELECT d.doc_id AS doc,
                   generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok
            FROM d
            WHERE doc_id IN (SELECT doc FROM cov)
        ), kept AS (
            SELECT t.doc, t.pos, t.tok
            FROM tr t ANTI JOIN cov USING (doc, pos)
        ), rebuilt AS (
            SELECT doc,
                   coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS ktext
            FROM kept GROUP BY doc
        ), removed AS (
            SELECT doc, count(*) AS tokens_removed FROM cov GROUP BY doc
        )
        SELECT 'stats' AS kind, doc_id,
               count(*) AS n_windows,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows,
               round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS dup_fraction,
               CAST(NULL AS BIGINT) AS n_tokens,
               CAST(NULL AS BIGINT) AS tokens_removed,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM w JOIN freq USING (wh)
        GROUP BY doc_id
        UNION ALL
        SELECT 'removed' AS kind, d.doc_id,
               CAST(NULL AS BIGINT) AS n_windows,
               CAST(NULL AS BIGINT) AS n_dup_windows,
               CAST(NULL AS DOUBLE) AS dup_fraction,
               CASE WHEN d.text IS NULL THEN 0
                    ELSE len(d.toks) END AS n_tokens,
               coalesce(rm.tokens_removed, 0) AS tokens_removed,
               md5(CASE WHEN d.text IS NULL THEN NULL
                        WHEN rm.tokens_removed IS NOT NULL
                            THEN coalesce(rb.ktext, '')
                        ELSE d.text END) AS text_md5
        FROM d
        LEFT JOIN removed rm ON rm.doc = d.doc_id
        LEFT JOIN rebuilt rb ON rb.doc = d.doc_id
    """,
)
def pipe_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import remove_dup_spans

    docs = _docs(spark, sf_dir)
    stats = dup_span_stats(docs, window=13, min_docs=2).select(
        F.lit("stats").alias("kind"),
        "doc_id",
        "n_windows",
        "n_dup_windows",
        "dup_fraction",
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("tokens_removed"),
        F.lit(None).cast("string").alias("text_md5"),
    )
    removed = remove_dup_spans(docs, window=13, min_count=2).select(
        F.lit("removed").alias("kind"),
        "doc_id",
        F.lit(None).cast("long").alias("n_windows"),
        F.lit(None).cast("long").alias("n_dup_windows"),
        F.lit(None).cast("double").alias("dup_fraction"),
        "n_tokens",
        "tokens_removed",
        F.md5("text").alias("text_md5"),
    )
    return stats.unionByName(removed)


@register(
    "pipe_lm_score",
    doc="CCNet-style LM quality signal: per-doc bits-per-token under a "
    "self-trained bigram model with Laplace smoothing — two counting "
    "aggregates (vocabulary-sized output) + two keyed joins, linear in "
    "corpus tokens; gibberish scores high, templated spam abnormally low.",
    oracle=r"""
        WITH tok AS (
            -- lowercased \s+ tokens; NULL text ≡ '' (the doc must appear
            -- in the per-doc output with NULL bits, not vanish)
            SELECT doc_id,
                   string_split_regex(trim(lower(coalesce(text, ''))), '\s+')
                       AS toks
            FROM documents
        ), tr AS (
            SELECT doc_id,
                   unnest([{'w1': toks[i], 'w2': toks[i+1]}
                           for i in range(1, len(toks))]) AS bg
            FROM tok
        ), trf AS (
            SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM tr
        ), c2 AS (
            SELECT w1, w2, count(*) AS n2 FROM trf GROUP BY 1, 2
        ), c1 AS (
            SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY 1
        ), v AS (
            SELECT count(DISTINCT t) AS vs
            FROM (SELECT unnest(toks) AS t FROM tok)
        ), scored AS (
            SELECT trf.doc_id,
                   -log2((c2.n2 + 1.0) / (c1.n1 + v.vs)) AS bits
            FROM trf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        ), agg AS (
            SELECT doc_id, count(*) AS n_trans,
                   round(avg(bits), 3) AS lm_bits
            FROM scored GROUP BY 1
        )
        SELECT t.doc_id,
               CAST(coalesce(a.n_trans, 0) AS BIGINT) AS n_trans,
               a.lm_bits
        FROM tok t LEFT JOIN agg a USING (doc_id)
    """,
)
def pipe_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_lm_bits(_docs(spark, sf_dir))


@register(
    "pipe_lang_id",
    doc="Marker-token language ID (argmax of per-language stopword hits; "
    "deterministic tie-break) + agreement with the labeled lang column.",
    oracle="""
        WITH h AS (
            SELECT doc_id, lang,
                   CAST((length(p) - length(replace(p, ' der ', ''))) / 5
                      + (length(p) - length(replace(p, ' die ', ''))) / 5
                      + (length(p) - length(replace(p, ' das ', ''))) / 5
                      + (length(p) - length(replace(p, ' und ', ''))) / 5
                      + (length(p) - length(replace(p, ' ist ', ''))) / 5 AS BIGINT) AS h_de,
                   CAST((length(p) - length(replace(p, ' the ', ''))) / 5
                      + (length(p) - length(replace(p, ' a ', ''))) / 3
                      + (length(p) - length(replace(p, ' of ', ''))) / 4
                      + (length(p) - length(replace(p, ' and ', ''))) / 5
                      + (length(p) - length(replace(p, ' is ', ''))) / 4 AS BIGINT) AS h_en,
                   CAST((length(p) - length(replace(p, ' el ', ''))) / 4
                      + (length(p) - length(replace(p, ' los ', ''))) / 5
                      + (length(p) - length(replace(p, ' las ', ''))) / 5
                      + (length(p) - length(replace(p, ' es ', ''))) / 4
                      + (length(p) - length(replace(p, ' y ', ''))) / 3 AS BIGINT) AS h_es,
                   CAST((length(p) - length(replace(p, ' le ', ''))) / 4
                      + (length(p) - length(replace(p, ' la ', ''))) / 4
                      + (length(p) - length(replace(p, ' les ', ''))) / 5
                      + (length(p) - length(replace(p, ' et ', ''))) / 4
                      + (length(p) - length(replace(p, ' est ', ''))) / 5 AS BIGINT) AS h_fr
            FROM (SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents)
        )
        SELECT doc_id, lang,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM h
    """,
)
def pipe_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang", "pred_lang")


@register(
    "pipe_fingerprint",
    doc="Rolling polynomial document fingerprint mod 2^31−1 — exact int64 "
    "arithmetic, identical fold on both engines.",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
                   (acc, c) -> (acc * 31 + c) % 2147483647
               ) AS fingerprint
        FROM documents
    """,
)
def pipe_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


@register(
    "pipe_cosine_topk",
    headline=True,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast queries, "
    "single corpus pass, deterministic (rounded cos, id) ranking.",
    oracle="""
        WITH q AS (
            -- zero-norm guard on BOTH sides: the Spark kernels mask
            -- zero-denominator scores to -inf (rows drop out entirely)
            -- while DuckDB's x/0.0 yields NULL rows that would survive
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings
            WHERE vec_id < 10
              AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        ), c AS (
            SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
            FROM embeddings
            WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        ), s AS (
            SELECT query_id, neighbor_id,
                   round(
                       list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6
                   ) AS cos
            FROM q, c WHERE neighbor_id <> query_id
        ), r AS (
            SELECT s.*, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rank
            FROM s
        )
        SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
    """,
)
def pipe_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    # broadcast_budget_bytes=0: the documented trust-me opt-out for a
    # query frame tiny BY CONSTRUCTION (a literal vec_id < 10 filter —
    # at most 10 vectors regardless of corpus scale), skipping the
    # one-job size estimate every build paid before the collect
    # (round 17, guide §1.2/§5: keep blocking driver jobs out of query
    # construction)
    return cosine_topk(emb, queries, k=5, broadcast_budget_bytes=0).select(
        "query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank")
    )


@register(
    "pipe_bpe_token_count",
    doc="Two tokenization-unit shapes as kind rows (consolidation into a "
    "non-headline slot, the round-10 pattern). kind='count': BPE-ish "
    "regex token counting (subword pre-split estimator). kind='chunk': "
    "split_documents (round 11) — long docs split into 40-token chunks "
    "with 8 tokens of overlap, the pre-packing step for long-form "
    "sources; rows carry chunk_id/start_token/n_tokens and text_md5 = "
    "md5 of the chunk text (short docs VERBATIM, so their md5 equals "
    "the raw text's), pinning chunk membership and bytes without "
    "shipping text. Both scan-local, zero shuffle.",
    oracle=r"""
        SELECT 'count' AS kind, doc_id,
               CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(NULL AS INT) AS chunk_id,
               CAST(NULL AS BIGINT) AS n_tokens,
               CAST(NULL AS BIGINT) AS start_token,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM documents
        UNION ALL
        SELECT 'chunk' AS kind, doc_id,
               CAST(NULL AS BIGINT) AS n_bpe_tokens,
               CAST(chunk_id AS INT) AS chunk_id,
               n_tokens, start_token, md5(text) AS text_md5
        FROM (
            WITH d AS (
                SELECT doc_id, text,
                       string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, text, toks, len(toks) AS n,
                       CASE WHEN len(toks) <= 40 THEN 1
                            ELSE 1 + (len(toks) - 40 + 32 - 1) // 32
                       END AS m
                FROM d
            )
            SELECT doc_id, k.k AS chunk_id,
                   CASE WHEN n <= 40 THEN text
                        ELSE array_to_string(
                            toks[1 + k.k*32 : k.k*32 + 40], ' ')
                   END AS text,
                   CAST(CASE WHEN text IS NULL
                                  OR regexp_matches(text, '^\s*$') THEN 0
                        ELSE least(40, n - k.k*32) END AS BIGINT) AS n_tokens,
                   CAST(1 + k.k*32 AS BIGINT) AS start_token
            FROM c, LATERAL (SELECT unnest(range(0, m)) AS k) k
        )
    """,
)
def pipe_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import split_documents

    docs = _docs(spark, sf_dir)
    counts = with_bpe_token_count(docs).select(
        F.lit("count").alias("kind"),
        "doc_id",
        "n_bpe_tokens",
        F.lit(None).cast("int").alias("chunk_id"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("start_token"),
        F.lit(None).cast("string").alias("text_md5"),
    )
    chunks = split_documents(docs, max_tokens=40, overlap=8).select(
        F.lit("chunk").alias("kind"),
        "doc_id",
        F.lit(None).cast("long").alias("n_bpe_tokens"),
        "chunk_id",
        "n_tokens",
        "start_token",
        F.md5("text").alias("text_md5"),
    )
    return counts.unionByName(chunks)


#: sf_dir → on-disk IVF index path, built once per process: the query
#: exercises the REAL serving shape (ivf_build once, ivf_search many) —
#: a repeat call searches the existing index with partition pruning and
#: never re-scans/re-shuffles the corpus.
_IVF_INDEX_CACHE: dict = {}


def sweep_stale_ivf_dirs() -> int:
    """Remove ``/tmp/php_ec_ivf_<pid>_*`` index dirs whose owning pid is
    dead — the atexit cleanup is best-effort and a crash-killed driver
    leaks its per-process dirs. Runs once per process before the first
    build; safe concurrently (a LIVE pid's dirs are never touched, and
    rmtree of an already-gone dir is a no-op). Returns dirs removed."""
    import glob
    import os
    import re
    import shutil
    import tempfile

    from .operators.dedup_index import _pid_alive

    swept = 0
    pat = re.compile(r"^php_ec_ivf_(\d+)_")
    for d in glob.glob(f"{tempfile.gettempdir()}/php_ec_ivf_*"):
        m = pat.match(os.path.basename(d))
        if not m:
            continue
        pid = int(m.group(1))
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(d, ignore_errors=True)
            swept += 1
    return swept


def sweep_stale_didx_tables(spark: SparkSession) -> int:
    """Drop ``pipe_didx_<pid>_*`` indexes whose owning pid is dead (same
    crash-leak story as :func:`sweep_stale_ivf_dirs`, but in the
    warehouse). Two sources, because they see different residue
    (round-15 verdict #2): the session CATALOG lists tables this process
    (or a live sibling sharing the metastore) registered, while the
    warehouse DIRECTORY on disk holds orphan table dirs from processes
    that died — a fresh in-memory catalog never lists those, yet their
    directories still collide with the next ``saveAsTable``. Returns
    index base-names swept."""
    import os
    import re

    from .operators.dedup_index import (
        _pid_alive,
        _warehouse_dir,
        dedup_index_drop,
    )

    pat = re.compile(r"^(pipe_didx_(\d+)_[0-9a-f]+)_")
    bases: dict = {}
    for t in spark.catalog.listTables():
        m = pat.match(t.name)
        if m:
            bases[m.group(1)] = int(m.group(2))
    wh = _warehouse_dir(spark)
    if wh:
        for d in os.listdir(wh):
            m = pat.match(d)
            if m and os.path.isdir(os.path.join(wh, d)):
                # catalog wins on conflict (same base both places is the
                # normal registered case; the drop removes both anyway)
                bases.setdefault(m.group(1), int(m.group(2)))
    swept = 0
    for base, pid in bases.items():
        if pid != os.getpid() and not _pid_alive(pid):
            # drop handles both registered tables and disowned dirs;
            # count a base as swept only when drop VERIFIED the
            # residue gone (round-16 ADVICE: a non-default current
            # database or non-local warehouse makes the orphan-clear a
            # no-op, and reporting success over a surviving directory
            # just defers the LOCATION_ALREADY_EXISTS to the next
            # saveAsTable)
            if dedup_index_drop(spark, base):
                swept += 1
            else:
                import logging

                logging.getLogger(__name__).warning(
                    "sweep_stale_didx_tables: %s has a dead owner but "
                    "residue remains on disk (non-default current "
                    "database, non-local warehouse, or rmtree failure)",
                    base,
                )
    return swept


_SWEPT_STALE = False


def _sweep_stale_artifacts(spark: SparkSession) -> None:
    global _SWEPT_STALE
    if _SWEPT_STALE:
        return
    _SWEPT_STALE = True
    try:
        sweep_stale_ivf_dirs()
        sweep_stale_didx_tables(spark)
    except Exception:
        # the sweep is hygiene, never a reason to fail a build
        pass


def _ivf_index(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import tempfile

    path = _IVF_INDEX_CACHE.get(sf_dir)
    if path is None:
        from .operators.similarity import ivf_build

        import os

        _sweep_stale_artifacts(spark)
        # pid-scoped: two driver processes over the same sf_dir must not
        # overwrite each other's index mid-search
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = f"{tempfile.gettempdir()}/php_ec_ivf_{os.getpid()}_{tag}"
        ivf_build(_emb(spark, sf_dir), path)
        _IVF_INDEX_CACHE[sf_dir] = path
    return path


@register(
    "pipe_ann_ivf",
    doc="The two cluster-bucketed embedding queries consolidated as kind "
    "rows (slot freed for pipe_index_probe). kind='topk': IVF "
    "approximate top-k through the PERSISTENT build/search split — "
    "ivf_build writes centroids + the corpus partitioned by cluster ONCE "
    "per process, ivf_search probes 2 of C clusters and reads only those "
    "partitions (partition pruning — the scan carries the cluster filter "
    "as a Partition Filter); approximate w.r.t. exact search but fully "
    "DETERMINISTIC — centroids round to 6 dp on both engines, probe "
    "ranking ties break on cluster id, so the oracle replicates the probe "
    "+ in-cluster top-k exactly. kind='dup': embedding-cosine near-dup "
    "pairs >= 0.4 over the same coarse-quantizer geometry — pairs "
    "compared only within a bucket (cluster_col='label'), cost "
    "Σ|bucket|², a pure bucket equi-join with ZERO driver "
    "materialization (pinned by a lazy-construction lint in "
    "tests/test_plans.py); the exact all-pairs baseline stays available "
    "as cosine_dup_pairs() without cluster_col, parity-tested in pytest "
    "against numpy brute force.",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), dim AS (
            SELECT max(len(v)) AS d FROM e
        ), pos AS (
            SELECT e.label, u.pos, e.v[u.pos] AS val
            FROM e, dim, LATERAL (SELECT unnest(range(1, d + 1)) AS pos) u
        ), cm AS (
            SELECT label, pos, round(avg(val), 6) AS m
            FROM pos GROUP BY label, pos
        ), cent AS (
            SELECT label AS cluster, list(m ORDER BY pos) AS centroid
            FROM cm GROUP BY label
        ), q AS (
            -- zero-norm guard (see pipe_cosine_topk): Spark drops these
            SELECT vec_id AS query_id, v AS qv FROM e
            WHERE vec_id < 10 AND list_dot_product(v, v) > 0
        ), pq AS (
            SELECT q.query_id, q.qv, c.cluster,
                   round(
                       list_dot_product(q.qv, c.centroid)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(c.centroid, c.centroid))), 6
                   ) AS ccos
            FROM q, cent c
        ), pr AS (
            SELECT pq.*, row_number() OVER (
                PARTITION BY query_id ORDER BY ccos DESC, cluster
            ) AS crank
            FROM pq
        ), s AS (
            SELECT p.query_id, e.vec_id AS neighbor_id,
                   round(
                       list_dot_product(p.qv, e.v)
                       / (sqrt(list_dot_product(p.qv, p.qv))
                          * sqrt(list_dot_product(e.v, e.v))), 6
                   ) AS cos
            FROM pr p JOIN e ON e.label = p.cluster AND e.vec_id <> p.query_id
            WHERE p.crank <= 2 AND list_dot_product(e.v, e.v) > 0
        ), r AS (
            SELECT s.*, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rank
            FROM s
        )
        -- semdup half: assignment to the SAME stored centroids (argmax
        -- cosine, ties -> lowest cluster, zero vectors -> 0.0 everywhere
        -- so they land in the first centroid), within-ASSIGNED-cluster
        -- pairs >= 0.4, duplicate groups via recursive min-label
        -- reachability, keeper = least-prototypical (lowest cent_cos,
        -- ties -> smallest id)
        , asg0 AS (
            SELECT e.vec_id, c.cluster,
                   CASE WHEN list_dot_product(e.v, e.v) > 0
                             AND list_dot_product(c.centroid, c.centroid) > 0
                        THEN round(
                            list_dot_product(e.v, c.centroid)
                            / (sqrt(list_dot_product(e.v, e.v))
                               * sqrt(list_dot_product(c.centroid, c.centroid))),
                            6)
                        ELSE 0.0 END AS cc
            FROM e, cent c
        ), asg AS (
            SELECT vec_id, cluster, cc, row_number() OVER (
                PARTITION BY vec_id ORDER BY cc DESC, cluster
            ) AS ark
            FROM asg0
        ), assigned AS (
            SELECT vec_id, cluster, cc AS cent_cos FROM asg WHERE ark = 1
        ), sp AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib
            FROM assigned aa
            JOIN e a ON a.vec_id = aa.vec_id
            JOIN assigned bb ON bb.cluster = aa.cluster
            JOIN e b ON b.vec_id = bb.vec_id AND aa.vec_id < bb.vec_id
            WHERE list_dot_product(a.v, a.v) > 0
              AND list_dot_product(b.v, b.v) > 0
              AND round(
                      list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))), 6
                  ) >= 0.4
        ), sedges AS (
            SELECT ia AS src, ib AS dst FROM sp
            UNION ALL
            SELECT ib, ia FROM sp
        ), sreach AS (
            SELECT src AS doc, src AS lbl FROM sedges
            UNION
            SELECT se.dst AS doc, r.lbl
            FROM sreach r JOIN sedges se ON se.src = r.doc
        ), sgrp AS (
            SELECT doc, min(lbl) AS glabel FROM sreach GROUP BY doc
        ), skeep AS (
            SELECT g.doc, g.glabel, row_number() OVER (
                PARTITION BY g.glabel
                ORDER BY a.cent_cos ASC, g.doc ASC
            ) AS krk
            FROM sgrp g JOIN assigned a ON a.vec_id = g.doc
        )
        SELECT 'topk' AS kind, query_id AS id_a, neighbor_id AS id_b,
               cos, CAST(rank AS INT) AS rank, CAST(NULL AS INT) AS keep
        FROM r WHERE rank <= 5
        UNION ALL
        -- the sharded search is row-identical to shards=1 by contract
        -- (shard-count-invariant, pinned in tests) — the oracle is the
        -- same rows
        SELECT 'topk_dist' AS kind, query_id AS id_a, neighbor_id AS id_b,
               cos, CAST(rank AS INT) AS rank, CAST(NULL AS INT) AS keep
        FROM r WHERE rank <= 5
        UNION ALL
        SELECT 'dup' AS kind, a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6
               ) AS cos,
               CAST(NULL AS INT) AS rank, CAST(NULL AS INT) AS keep
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(
                  list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6
              ) >= 0.4
        UNION ALL
        SELECT 'semdup' AS kind, a.vec_id AS id_a,
               coalesce(g.glabel, a.vec_id) AS id_b,
               a.cent_cos AS cos,
               CAST(a.cluster AS INT) AS rank,
               CAST(CASE WHEN k.krk IS NULL OR k.krk = 1
                         THEN 1 ELSE 0 END AS INT) AS keep
        FROM assigned a
        LEFT JOIN sgrp g ON g.doc = a.vec_id
        LEFT JOIN skeep k ON k.doc = a.vec_id
    """,
)
def pipe_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_search, semdedup

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = _ivf_index(spark, sf_dir)
    nullint = F.lit(None).cast("int")

    def _topk(kind: str, **kw) -> DataFrame:
        return ivf_search(spark, idx, queries, k=5, nprobe=2, **kw).select(
            F.lit(kind).alias("kind"),
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cos",
            F.col("rank").cast("int").alias("rank"),
            nullint.alias("keep"),
        )

    topk = _topk("topk")
    # the same top-k with the skew valve engaged: the default search runs
    # the cogroup kernel at shards=1 (in-kernel lost-cluster guard), so
    # without this row the sharded kernel and the shards='auto'
    # resolution would only be checked in pytest. The oracle is the
    # "topk" rows' SQL verbatim (results are shard-count-invariant,
    # pinned in tests). The 8 KiB block target makes the live-counts
    # formula resolve ~4 shards on the ~60-row hot label here, so BOTH
    # the auto resolution and the sharded kernel sit under the driver
    # hash.
    topk_dist = _topk(
        "topk_dist", shards="auto", shard_target_block_bytes=8 << 10,
    )
    dup = cosine_dup_pairs(emb, threshold=0.4, cluster_col="label").select(
        F.lit("dup").alias("kind"),
        "id_a",
        "id_b",
        "cos",
        nullint.alias("rank"),
        nullint.alias("keep"),
    )
    # SemDeDup over the INDEX's own quantizer (shared geometry — the
    # docstring's centroids= contract): assign → within-cluster pairs →
    # duplicate groups → keep the least-prototypical member. rank carries
    # the assigned cluster, id_b the group label, cos the centroid
    # cosine, keep the survivor flag — together they pin every stage.
    cent_rows = sorted(
        spark.read.parquet(f"{idx}/centroids").collect(),
        key=lambda r: (r.cluster is None, r.cluster),
    )
    # assign_clusters returns the ORDINAL of the winning centroid row —
    # translate back to the stored cluster ids so the output (and the
    # oracle) speak label values, not matrix positions (a NULL-cluster
    # centroid — legal per ivf_build — maps to a NULL literal, not a
    # crashing int(None))
    ordinal_to_label = F.array(
        *[
            F.lit(int(r.cluster)) if r.cluster is not None
            else F.lit(None).cast("int")
            for r in cent_rows
        ]
    )
    sem = semdedup(
        emb.select("vec_id", "embedding"),
        threshold=0.4,
        centroids=[list(r.centroid) for r in cent_rows],
    ).select(
        F.lit("semdup").alias("kind"),
        F.col("vec_id").alias("id_a"),
        F.col("semdup_group").alias("id_b"),
        F.col("cent_cos").alias("cos"),
        F.element_at(ordinal_to_label, F.col("cluster") + 1)
        .cast("int")
        .alias("rank"),
        F.col("keep").cast("int").alias("keep"),
    )
    return topk.unionByName(topk_dist).unionByName(dup).unionByName(sem)


#: sf_dir → built persistent dedup-index name, once per process — the real
#: serving shape: the index is built/appended offline, every crawl
#: increment only probes it.
_DEDUP_INDEX_CACHE: dict = {}


def _dedup_index(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import hashlib
    import os

    name = _DEDUP_INDEX_CACHE.get(sf_dir)
    if name is None:
        from .operators.dedup_index import dedup_index_build, dedup_index_drop

        _sweep_stale_artifacts(spark)
        # pid-scoped like the IVF index: two driver processes over the
        # same sf_dir must not rebuild each other's catalog tables
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        name = f"pipe_didx_{os.getpid()}_{tag}"
        dedup_index_build(
            _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0), name
        )
        _DEDUP_INDEX_CACHE[sf_dir] = name

        def _cleanup(n=name, s=spark):
            # best-effort: leave no per-process warehouse tables behind;
            # the JVM may already be gone at interpreter exit — and a
            # crash-killed driver skips atexit entirely, which is why
            # the NEXT process's first build sweeps dead-pid leftovers
            # (sweep_stale_didx_tables / sweep_stale_ivf_dirs above)
            try:
                dedup_index_drop(s, n)
            except Exception:
                pass

        atexit.register(_cleanup)
    return name


@register(
    "pipe_index_probe",
    doc="The persistent incremental dedup index through its serving "
    "shape: dedup_index_build over the even-id half of the corpus "
    "(bucketed digest/band/docs catalog tables, built ONCE per process), "
    "then dedup_index_probe annotates the odd-id half as the daily "
    "increment — exact_dup_of from the stored digest survivor, "
    "near_dup_of/near_jaccard as the best exactly-verified n-gram "
    "Jaccard >= 0.8 among LSH band collisions (128 hashes x 32 bands: "
    "a J>=0.8 pair misses with p <= 5e-8, so the oracle's exact "
    "all-pairs best-match reproduces the output — same recall argument "
    "as pipe_minhash_lsh). Probe joins plan with zero stored-side "
    "exchange (bucketed layout, pinned in tests/test_dedup_index.py); "
    "cost is O(|increment| + |candidates|), never a corpus rescan.",
    oracle=r"""
        WITH tok AS (
            SELECT doc_id,
                   string_split_regex(trim(coalesce(text, '')), '\s+') AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct([
                            array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)
                        ])
                   END AS shingles
            FROM tok
        ), inc AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       AS text_hash
            FROM documents WHERE doc_id % 2 = 1
        ), stored AS (
            -- the index keeps one survivor (min id) per distinct digest;
            -- NULL digests are never stored (they cannot match a probe)
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
                   min(doc_id) AS surv
            FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
            GROUP BY 1
        ), nearp AS (
            -- exact n-gram Jaccard between every (odd, even) pair; the
            -- Spark side sees the same pairs through LSH banding at
            -- recall 1 - 5e-8 for J >= 0.8
            SELECT a.doc_id AS inc_doc, b.doc_id AS idx_doc,
                   round(
                       len(list_intersect(a.shingles, b.shingles))::DOUBLE
                       / len(list_distinct(a.shingles || b.shingles)), 6
                   ) AS j
            FROM sh a JOIN sh b
              ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        ), best AS (
            SELECT inc_doc, idx_doc, j, row_number() OVER (
                PARTITION BY inc_doc ORDER BY j DESC, idx_doc
            ) AS rk
            FROM nearp WHERE j >= 0.8
        )
        SELECT i.doc_id, i.text_hash,
               st.surv AS exact_dup_of,
               b.idx_doc AS near_dup_of,
               b.j AS near_jaccard
        FROM inc i
        LEFT JOIN stored st ON st.h = i.text_hash
        LEFT JOIN best b ON b.inc_doc = i.doc_id AND b.rk = 1
    """,
)
def pipe_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_index import dedup_index_probe

    inc = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    out = dedup_index_probe(
        spark, _dedup_index(spark, sf_dir), inc, threshold=0.8
    )
    return out.select(
        "doc_id", "text_hash", "exact_dup_of", "near_dup_of", "near_jaccard"
    )


@register(
    "pipe_doc_quality_by_cluster",
    doc="Cross-modal pipeline join: text quality stats aggregated per "
    "embedding cluster label (documents ⋈ embeddings on id).",
    oracle="""
        WITH s AS (
            SELECT d.doc_id,
                   length(d.text) - length(replace(d.text, ' ', '')) + 1 AS n_tokens,
                   len(list_distinct(string_split(d.text, ' '))) AS n_unique,
                   e.label
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        )
        SELECT CAST(label AS BIGINT) AS label,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
               -- POOLED diversity (ratio of exact integer sums, one final
               -- division): an avg of per-doc double ratios is an
               -- order-dependent float summation that can straddle a 6dp
               -- rounding boundary between Spark's parallel partials and
               -- DuckDB's sequential fold
               round(sum(n_unique)::DOUBLE / sum(n_tokens), 6)
                   AS pooled_diversity
        FROM s GROUP BY label
    """,
)
def pipe_doc_quality_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_token_stats(_docs(spark, sf_dir))
    e = _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"), "label")
    return (
        d.join(e, "doc_id")
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.round(
                F.sum("n_unique_tokens").cast("double") / F.sum("n_tokens"),
                6,
            ).alias("pooled_diversity"),
        )
    )


@register(
    "pipe_levenshtein_pairs",
    doc="Exact edit distance over the near-dup candidate pairs (both "
    "engines implement integer Levenshtein) — char-level confirmation of "
    "token-level similarity.",
    oracle=_PAIRS.replace(
        "SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.8",
        """
        SELECT p.doc_a, p.doc_b,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
        WHERE p.jaccard >= 0.8
        """,
    ),
)
def pipe_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        )
    )


@register(
    "pipe_multimodal_meta",
    doc="Multimodal plumbing: binary payload column → Arrow-batched "
    "mapInPandas metadata extraction (decode stubbed, deterministic fake).",
    oracle="""
        -- head_byte is the first UTF-8 BYTE of the encoded payload (and
        -- -1 for empty), not the first character's codepoint: derive the
        -- leading byte from the codepoint arithmetically so non-ASCII
        -- leading characters agree with the Spark side
        SELECT doc_id AS item_id,
               CAST(strlen(text) AS BIGINT) AS byte_len,
               CAST(CASE
                   WHEN strlen(text) = 0 THEN -1
                   WHEN unicode(substr(text, 1, 1)) < 128
                        THEN unicode(substr(text, 1, 1))
                   WHEN unicode(substr(text, 1, 1)) < 2048
                        THEN 192 + unicode(substr(text, 1, 1)) // 64
                   WHEN unicode(substr(text, 1, 1)) < 65536
                        THEN 224 + unicode(substr(text, 1, 1)) // 4096
                   ELSE 240 + unicode(substr(text, 1, 1)) // 262144
               END AS BIGINT) AS head_byte,
               CAST(strlen(text) % 640 + 1 AS BIGINT) AS width,
               CAST(strlen(text) % 480 + 1 AS BIGINT) AS height
        FROM documents
    """,
)
def pipe_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = attach_blob(_docs(spark, sf_dir))
    return extract_image_meta(blobs, fake=True)


@register(
    "pipe_sample_mix_decon",
    doc="Sampling/mixing/decontamination in one kind-column result: "
    "kind='sample' = stratified_sample at per-lang quotas; kind='mix' = "
    "weighted_mix of two id-overlapping sub-corpora (per-source hash "
    "domain); kind='decon' = 13-gram benchmark decontamination hits per "
    "doc (dedup.decontaminate, broadcast probe). All three run the "
    "PORTABLE md5 hash path so the keep decisions are bit-reproducible "
    "in DuckDB — the oracle recomputes every decision independently.",
    oracle=r"""
        WITH u AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':stratified_sample:7'), 1, 8))::BIGINT
                       / 4294967296.0 AS u_sample,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':weighted_mix:thin:7'), 1, 8))::BIGINT
                       / 4294967296.0 AS u_mix
            FROM documents
        ),
        tok13 AS (
            -- with_shingles' tokenization exactly: split(trim, '\s+')
            -- (single-space string_split diverges on repeated/tab/edge
            -- whitespace; pipe_simhash already uses this convention)
            SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks
            FROM documents
        ), sh13 AS (
            SELECT doc_id,
                   CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
                        ELSE list_distinct([
                            array_to_string(toks[i:i+12], ' ')
                            for i in range(1, len(toks) - 11)
                        ])
                   END AS shingles
            FROM tok13
        ),
        bgrams AS (
            SELECT DISTINCT unnest(shingles) AS g FROM sh13 WHERE doc_id % 50 = 0
        ),
        cg AS (SELECT doc_id, unnest(shingles) AS g FROM sh13),
        hits AS (
            SELECT cg.doc_id, count(*) AS n_hits
            FROM cg JOIN bgrams USING (g) GROUP BY cg.doc_id
        )
        SELECT 'sample' AS kind, doc_id, lang AS tag,
               CAST(NULL AS BIGINT) AS n_hits
        FROM u
        WHERE u_sample < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25
                                   ELSE 1.0 END
        UNION ALL
        SELECT 'mix' AS kind, doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'web' ELSE 'thin' END AS tag,
               CAST(NULL AS BIGINT) AS n_hits
        FROM u
        WHERE doc_id % 2 = 0 OR u_mix < 0.4
        UNION ALL
        SELECT 'decon' AS kind, d.doc_id, CAST(NULL AS VARCHAR) AS tag,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def pipe_sample_mix_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import decontaminate
    from .operators.sampling import stratified_sample, weighted_mix

    docs = _docs(spark, sf_dir)
    sample = stratified_sample(
        docs, {"en": 0.5, "zh": 0.25}, "lang", seed=7, hash="md5"
    ).select(
        F.lit("sample").alias("kind"), "doc_id", F.col("lang").alias("tag"),
        F.lit(None).cast("long").alias("n_hits"),
    )
    web = docs.filter(F.col("doc_id") % 2 == 0)
    thin = docs.filter(F.col("doc_id") % 2 == 1)
    mix = weighted_mix(
        {"web": web, "thin": thin}, {"web": 1.0, "thin": 0.4},
        seed=7, hash="md5",
    ).select(
        F.lit("mix").alias("kind"), "doc_id", F.col("mix_source").alias("tag"),
        F.lit(None).cast("long").alias("n_hits"),
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    decon = decontaminate(docs, bench, n=13).select(
        F.lit("decon").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("tag"), "n_hits",
    )
    return sample.unionByName(mix).unionByName(decon)


@register(
    "pipe_repetition_signals",
    doc="Gopher-style within-doc repetition quality signals: word count, "
    "duplicate-word fraction, most-frequent word + its share (ties to the "
    "lexicographically smallest word), most-frequent adjacent bigram's "
    "share. Scan-local sort_array + single-pass aggregate run-scan — zero "
    "shuffle, zero Python (operators.text.with_repetition_signals).",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents
        ), wc AS (
            SELECT doc_id, word, count(*) AS c
            FROM (SELECT doc_id, unnest(words) AS word FROM w)
            GROUP BY 1, 2
        ), topw AS (
            SELECT doc_id, word AS top_word, c FROM (
                SELECT doc_id, word, c, row_number() OVER (
                    PARTITION BY doc_id ORDER BY c DESC, word ASC
                ) AS rn FROM wc
            ) WHERE rn = 1
        ), bc AS (
            SELECT doc_id, bgm, count(*) AS c
            FROM (
                SELECT doc_id, unnest([
                    array_to_string(words[i:i+1], ' ')
                    for i in range(1, len(words))
                ]) AS bgm FROM w
            )
            GROUP BY 1, 2
        ), topb AS (
            SELECT doc_id, max(c) AS c FROM bc GROUP BY 1
        )
        SELECT w.doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               round(1 - len(list_distinct(words))::DOUBLE / len(words), 6)
                   AS dup_word_frac,
               topw.top_word,
               round(topw.c::DOUBLE / len(words), 6) AS top_word_frac,
               CASE WHEN len(words) < 2 THEN 0.0
                    ELSE round(topb.c::DOUBLE / (len(words) - 1), 6)
               END AS top_bigram_frac
        FROM w
        JOIN topw USING (doc_id)
        LEFT JOIN topb USING (doc_id)
    """,
)
def pipe_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_repetition_signals

    return with_repetition_signals(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "dup_word_frac", "top_word", "top_word_frac",
        "top_bigram_frac",
    )


@register(
    "pipe_pack_sequences",
    doc="Concat-and-chunk sequence packing (budget 512 tokens): each doc's "
    "offset in the packed token stream + the sequence-id span it covers. "
    "Distributed two-pass prefix sum (range partition -> local cumsum -> "
    "per-partition offsets broadcast back) — the global-window cumsum a "
    "naive port would write runs on ONE partition at 100 TB "
    "(operators.packing.pack_sequences).",
    oracle="""
        WITH d AS (
            -- NULL text counts ZERO tokens (pack_sequences' round-11
            -- contract — same as the token sampler); coalesce so a
            -- NULL-text doc carries 0 through the running sum instead of
            -- blanking it
            SELECT doc_id,
                   CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT)
                       AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS BIGINT) AS start_offset
            FROM d
        )
        SELECT doc_id, n_tokens, start_offset,
               start_offset // 512 AS seq_first,
               -- zero-token docs pin seq_last to seq_first
               (start_offset + greatest(n_tokens, 1) - 1) // 512 AS seq_last
        FROM c
    """,
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512)
