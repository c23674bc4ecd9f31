"""LLM-data-pipeline query surface (NORTH-STAR tier): dedup family,
similarity search, text analysis, multimodal plumbing — each wired to a
DuckDB oracle that re-expresses the same math independently."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import corpus as CORPUS
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as TX
from ..operators.materialize import materialize
from ..operators.multimodal import (
    attach_binary_payload,
    audio_window_energy,
    decode_features,
    resize_images,
    sample_frames,
)
from .base import QuerySpec

SPECS: list[QuerySpec] = []


# shared oracle CTE: distinct char-12-gram shingles per doc (stride 1,
# used by the exact Jaccard verify)
_SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id, substring(lower(text), CAST(i AS INTEGER), 12) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 11, 1))) AS i
        FROM documents) t
)
"""

# stride-2 shingle multiset feeding the minhash signature (mirrors
# minhash_signature_mapside's stride=2)
_SIG_SHINGLES_CTE = """
shs AS (
  SELECT doc_id, substring(lower(text), CAST(i AS INTEGER), 12) AS sh
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 11, 1), 2)) AS i
        FROM documents) t
)
"""

def _sig_cte() -> str:
    """One-permutation minhash signature, mirroring
    operators.dedup.minhash_signature_mapside exactly: one md5 per
    shingle, slot j = min of hashes with first hex digit in slot j's
    range, empty slots densified by global-min || '#j'."""
    from ..operators.dedup import slot_hex_digits

    slots = []
    for j in range(8):
        digits = ", ".join(f"'{d}'" for d in slot_hex_digits(j))
        slots.append(
            f"COALESCE(MIN(CASE WHEN substring(h, 1, 1) IN ({digits}) THEN h END),"
            f" MIN(h) || '#{j}') AS h{j}"
        )
    slots_sql = ",\n    ".join(slots)
    return f"""
sig AS (
  SELECT doc_id,
    {slots_sql}
  FROM (SELECT doc_id, md5(sh) AS h FROM shs) hs
  GROUP BY doc_id
),"""


_SIG_CTE = _sig_cte() + """
bands AS (
  SELECT doc_id, 0 AS band_idx, h0 || h1 AS band_val FROM sig
  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="dedup_exact_by_text",
    doc="Exact dedup (deterministic keep-min-id) summarized per lang.",
    tags=("llm", "dedup"),
    build=lambda spark, sf: (
        D.exact_dedup(spark.table("documents"), ["text"], "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_unique"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("lang")
    ),
    oracle="""
SELECT lang, COUNT(*) AS n_unique, CAST(MIN(keep_id) AS BIGINT) AS first_doc
FROM (SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text) d
JOIN documents ON doc_id = keep_id
GROUP BY lang
ORDER BY lang
""",
))

SPECS.append(QuerySpec(
    name="dedup_minhash_lsh_pairs",
    doc="MinHash(8)+LSH(4 bands x 2 rows) candidate pairs over char-12-gram "
        "shingles. Bucket equi-join — no all-pairs at any scale.",
    tags=("llm", "dedup", "headline"),
    build=lambda spark, sf: (
        D.lsh_candidate_pairs(
            D.minhash_signature_mapside(spark.table("documents"), "text", "doc_id"),
            "doc_id",
        ).orderBy("doc_a", "doc_b")
    ),
    oracle=f"""
WITH {_SIG_SHINGLES_CTE.strip()}, {_SIG_CTE.strip()}
SELECT doc_a, doc_b, n_bands FROM cand ORDER BY doc_a, doc_b
""",
))

SPECS.append(QuerySpec(
    name="dedup_neardup_jaccard",
    doc="Near-dup pipeline: LSH candidates verified by exact shingle-set "
        "Jaccard >= 0.6 (integer-ratio math, bit-identical across engines).",
    tags=("llm", "dedup"),
    build=lambda spark, sf: (
        D.jaccard_verify_docs(
            spark.table("documents"),
            D.lsh_candidate_pairs(
                D.minhash_signature_mapside(spark.table("documents"), "text", "doc_id"),
                "doc_id",
            ),
            "text",
            "doc_id",
            threshold=0.6,
        ).orderBy("doc_a", "doc_b")
    ),
    oracle=f"""
WITH {_SHINGLES_CTE.strip()}, {_SIG_SHINGLES_CTE.strip()}, {_SIG_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(ROUND(1.0 * i.i / (sa.n + sb.n - i.i), 4) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 1.0 * i.i / (sa.n + sb.n - i.i) >= 0.6
ORDER BY doc_a, doc_b
""",
))


def _components_build(spark, sf):
    pairs = D.jaccard_verify_docs(
        spark.table("documents"),
        D.lsh_candidate_pairs(
            D.minhash_signature_mapside(spark.table("documents"), "text", "doc_id"),
            "doc_id",
        ),
        "text",
        "doc_id",
        threshold=0.6,
    ).select("doc_a", "doc_b")
    comp = D.connected_components(pairs)
    return (
        comp.withColumn(
            "n_members",
            F.count("*").over(Window.partitionBy("cluster_id")).cast("bigint"),
        )
        .select(
            F.col("id").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "n_members",
            (F.col("id") == F.col("cluster_id")).cast("int").alias("is_representative"),
        )
        .orderBy("doc_id")
    )


SPECS.append(QuerySpec(
    name="dedup_cluster_components",
    doc="Near-dup clustering: connected components over the jaccard-"
        "verified pair graph (iterative min-label propagation with "
        "pointer jumping — O(log diameter) rounds, one keyed shuffle per "
        "round). cluster_id = min reachable doc_id; representative = the "
        "kept row. Oracle = recursive-CTE reachability.",
    tags=("llm", "dedup"),
    build=_components_build,
    oracle=lambda: f"""
WITH RECURSIVE {_SHINGLES_CTE.strip()}, {_SIG_SHINGLES_CTE.strip()}, {_SIG_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 1.0 * i.i / (sa.n + sb.n - i.i) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       CAST(CASE WHEN id = cluster_id THEN 1 ELSE 0 END AS INTEGER) AS is_representative
FROM comp
ORDER BY doc_id
""",
))


SPECS.append(QuerySpec(
    name="split_train_holdout",
    doc="Deterministic train/val/holdout split by md5 hash bucket of the "
        "doc id (the standard leakage-free dataset split: stable under "
        "re-runs, insert-order-independent, cross-engine identical). "
        "Summarized per (lang, split).",
    tags=("llm", "text"),
    build=lambda spark, sf: (
        spark.table("documents")
        .withColumn("__b", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2))
        .withColumn(
            "split",
            F.when(F.col("__b") < "1a", "holdout")
            .when(F.col("__b") < "4d", "val")
            .otherwise("train"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        )
        .orderBy("lang", "split")
    ),
    oracle="""
WITH s AS (
  SELECT lang, text, doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'holdout'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '4d' THEN 'val'
              ELSE 'train' END AS split
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars
FROM s GROUP BY lang, split ORDER BY lang, split
""",
))


def _curate_build(spark, sf):
    docs = spark.table("documents")
    # 1. exact dedup (keep min doc_id per identical text), materialized
    #    once: it feeds the LSH signature build, the Jaccard verify's
    #    candidate restriction, AND the final keep anti-join — without a
    #    stage boundary the dedup window over the corpus runs per
    #    consumer. (In a real 100 TB pipeline this stage is a table
    #    write; localCheckpoint is the in-session equivalent.)
    uniq = materialize(D.exact_dedup(docs, ["text"], "doc_id"))
    # 2. near-dup collapse: LSH -> jaccard verify -> connected components;
    #    only each cluster's representative (min id) survives
    pairs = D.jaccard_verify_docs(
        uniq,
        D.lsh_candidate_pairs(
            D.minhash_signature_mapside(uniq, "text", "doc_id"), "doc_id"
        ),
        "text",
        "doc_id",
        threshold=0.6,
    ).select("doc_a", "doc_b")
    dupes = (
        D.connected_components(pairs)
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
    # dupes is the non-representative members of every near-dup cluster —
    # corpus-scale on a dup-heavy crawl (30-50% of docs), so no forced
    # broadcast: AQE broadcasts when the dup set is actually small and
    # shuffle-anti-joins when it isn't (round-14 broadcast-site audit).
    kept = uniq.join(dupes, "doc_id", "left_anti")
    # 3. quality gate (same thresholds as text_stats_quality)
    n_tokens = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    kept = kept.filter((F.length("text") >= 50) & (n_tokens >= 10))
    # 4. deterministic split, summarized per (lang, split)
    return (
        kept.withColumn(
            "__b", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        )
        .withColumn(
            "split",
            F.when(F.col("__b") < "1a", "holdout")
            .when(F.col("__b") < "4d", "val")
            .otherwise("train"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("lang", "split")
    )


def _curate_oracle() -> str:
    # the shingle/signature CTEs run over the exact-deduped set
    over_uniq = (
        _SHINGLES_CTE.strip().replace("FROM documents", "FROM uniq")
        + ", "
        + _SIG_SHINGLES_CTE.strip().replace("FROM documents", "FROM uniq")
        + ", "
        + _SIG_CTE.strip()
    )
    return f"""
WITH RECURSIVE uniq AS (
  SELECT d.* FROM (SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text) k
  JOIN documents d ON d.doc_id = k.keep_id
), {over_uniq},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE 1.0 * i.i / (sa.n + sb.n - i.i) >= 0.6
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
dupes AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(lbl)),
kept AS (
  SELECT * FROM uniq
  WHERE doc_id NOT IN (SELECT id FROM dupes)
    AND LENGTH(text) >= 50
    AND LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 10
),
labeled AS (
  SELECT lang, text, doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'holdout'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '4d' THEN 'val'
              ELSE 'train' END AS split
  FROM kept
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM labeled GROUP BY lang, split ORDER BY lang, split
"""


SPECS.append(QuerySpec(
    name="pipeline_curate_corpus",
    doc="End-to-end corpus curation — the flagship training-data flow: "
        "exact dedup -> MinHash-LSH near-dup clustering (connected "
        "components, keep representatives) -> quality gate -> "
        "deterministic hash split. Every stage is the already-verified "
        "operator; the oracle composes the same math in one SQL program.",
    tags=("llm", "dedup", "text", "headline"),
    build=_curate_build,
    oracle=_curate_oracle,
))


def _simhash_oracle() -> str:
    odd = "('1','3','5','7','9','b','d','f')"
    sums = ",\n    ".join(
        f"SUM(CASE WHEN substring(h, {j + 1}, 1) IN {odd} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    bits = " || ".join(f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(16))
    return rf"""
WITH toks AS (
  -- whitespace-regex split + empty-token drop, mirroring simhash16
  SELECT doc_id, md5(tok) AS h FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), sums AS (
  SELECT doc_id,
    {sums}
  FROM toks GROUP BY doc_id
), sh AS (
  SELECT doc_id, {bits} AS simhash FROM sums
)
SELECT simhash, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM sh GROUP BY simhash ORDER BY simhash
"""


SPECS.append(QuerySpec(
    name="dedup_simhash_buckets",
    doc="16-bit SimHash buckets over tokens (hex-digit-parity hash family).",
    tags=("llm", "dedup"),
    build=lambda spark, sf: (
        D.simhash16(spark.table("documents"), "text", "doc_id")
        .groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("simhash")
    ),
    oracle=_simhash_oracle,
))

# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE_BODY = """
norms AS (
  SELECT vec_id, SQRT(SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
  GROUP BY vec_id
),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
dots AS (
  SELECT qid, vec_id, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
  FROM (
    SELECT q.qid, e.vec_id, unnest(q.qe) AS x, unnest(e.embedding) AS y
    FROM q, embeddings e
    WHERE e.vec_id <> q.qid
  ) p
  GROUP BY qid, vec_id
),
sims AS (
  SELECT d.qid, d.vec_id,
         ROUND(d.dot / (nq.nrm * ne.nrm), 6) AS sim
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.qid
  JOIN norms ne ON ne.vec_id = d.vec_id
)
"""

SPECS.append(QuerySpec(
    name="similarity_topk_cosine",
    doc="Exact brute-force top-10 cosine neighbors for query vectors "
        "(vec_id < 5); broadcast query set, JVM fold dot product, ranked "
        "on ROUND(sim,6)+id so FP noise cannot reorder.",
    tags=("llm", "similarity", "headline"),
    build=lambda spark, sf: S.cosine_topk(
        spark.table("embeddings"), query_ids=[0, 1, 2, 3, 4], k=10
    ),
    oracle=f"""
WITH {_COSINE_ORACLE_BODY.strip()},
ranked AS (
  SELECT qid, vec_id, CAST(sim AS DOUBLE) AS sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT qid, vec_id AS vec_id_n, sim, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10 ORDER BY qid, rn
""",
))


def _sign_bits_duck(col: str, n: int = 8) -> str:
    return " || ".join(
        f"CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(n)
    )


SPECS.append(QuerySpec(
    name="similarity_ann_lsh_bucket",
    doc="Approximate NN: sign-LSH bucket (8 leading dims) restricts "
        "candidates to the query's bucket before exact cosine — the IVF-"
        "style partition-pruned scale path.",
    tags=("llm", "similarity"),
    build=lambda spark, sf: S.lsh_bucket_topk(
        spark.table("embeddings"), query_ids=[0, 1, 2, 3, 4], k=5
    ),
    oracle=f"""
WITH norms AS (
  SELECT vec_id, SQRT(SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
  GROUP BY vec_id
),
bk AS (SELECT vec_id, {_sign_bits_duck('embedding')} AS bucket FROM embeddings),
q AS (
  SELECT e.vec_id AS qid, e.embedding AS qe, b.bucket AS qbucket
  FROM embeddings e JOIN bk b ON b.vec_id = e.vec_id
  WHERE e.vec_id < 5
),
dots AS (
  SELECT qid, vec_id, bucket, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
  FROM (
    SELECT q.qid, e.vec_id, be.bucket, unnest(q.qe) AS x, unnest(e.embedding) AS y
    FROM q
    JOIN bk be ON be.bucket = q.qbucket
    JOIN embeddings e ON e.vec_id = be.vec_id AND e.vec_id <> q.qid
  ) p
  GROUP BY qid, vec_id, bucket
),
sims AS (
  SELECT d.qid, d.vec_id, d.bucket,
         ROUND(d.dot / (nq.nrm * ne.nrm), 6) AS sim
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.qid
  JOIN norms ne ON ne.vec_id = d.vec_id
),
ranked AS (
  SELECT qid, vec_id, CAST(sim AS DOUBLE) AS sim, bucket,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT qid, vec_id AS vec_id_n, sim, CAST(rn AS BIGINT) AS rn, bucket
FROM ranked WHERE rn <= 5 ORDER BY qid, rn
""",
))

SPECS.append(QuerySpec(
    name="similarity_ann_pq",
    doc="Product-quantization ANN (asymmetric distance): vectors "
        "compress to m=8 codes via per-subspace argmin against a "
        "deterministic 16-entry codebook (map-side, broadcast codebook, "
        "no corpus shuffle), queries score the compressed corpus through "
        "a per-query lookup table — the billion-scale path where the "
        "query never touches raw vectors. Sub-distances and ADC round "
        "to 6 dp with first-min/id tie-breaks, so the SQL oracle "
        "(ROW_NUMBER over d,j) matches bitwise.",
    tags=("llm", "similarity"),
    build=lambda spark, sf: S.pq_topk(
        spark.table("embeddings"), query_ids=[100, 101, 102], k=5,
        m=8, n_codes=16,
    ),
    oracle="""
WITH s AS (SELECT range AS s FROM range(0, 8)),
d2 AS (
  SELECT e.vec_id AS vid, s.s, c.vec_id + 1 AS j,
         ROUND(list_sum(list_transform(range(1, 9),
           i -> (CAST(e.embedding[s.s * 8 + i] AS DOUBLE)
                 - CAST(c.embedding[s.s * 8 + i] AS DOUBLE))
              * (CAST(e.embedding[s.s * 8 + i] AS DOUBLE)
                 - CAST(c.embedding[s.s * 8 + i] AS DOUBLE)))), 6) AS d
  FROM embeddings e
  CROSS JOIN s
  JOIN embeddings c ON c.vec_id < 16
),
codes AS (
  SELECT vid, s, j AS code FROM (
    SELECT vid, s, j, ROW_NUMBER() OVER (PARTITION BY vid, s ORDER BY d, j) AS rn
    FROM d2
  ) WHERE rn = 1
),
lut AS (SELECT vid AS qid, s, j, d FROM d2 WHERE vid IN (100, 101, 102)),
adc AS (
  SELECT l.qid, c.vid AS bid, ROUND(SUM(l.d), 6) AS adc
  FROM codes c
  JOIN lut l ON l.s = c.s AND l.j = c.code
  WHERE c.vid <> l.qid
  GROUP BY l.qid, c.vid
),
ranked AS (
  SELECT qid, bid, adc,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, bid) AS rn
  FROM adc
)
SELECT qid, bid AS vec_id_n, CAST(adc AS DOUBLE) AS adc, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5
ORDER BY qid, rn
""",
))

SPECS.append(QuerySpec(
    name="similarity_ann_ivf",
    doc="IVF-style ANN: deterministic coarse quantizer (8 centroid "
        "cells, map-side argmin-L2 assignment from an inlined centroid "
        "array — no corpus shuffle), queries probe the 2 nearest cells, "
        "exact cosine ranks candidates only. Distances/sims rounded to "
        "6 dp before argmin/rank so FP order noise cannot flip cells.",
    tags=("llm", "similarity"),
    build=lambda spark, sf: S.ivf_topk(
        spark.table("embeddings"), query_ids=[0, 1, 2, 3, 4],
        k=5, n_centroids=8, nprobe=2,
    ),
    oracle="""
WITH cents AS (
  SELECT vec_id AS cvid, embedding AS ce FROM embeddings WHERE vec_id < 8
),
d2 AS (
  SELECT vid, cvid + 1 AS cell, ROUND(SUM((x - y) * (x - y)), 6) AS d
  FROM (
    SELECT e.vec_id AS vid, c.cvid,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest(c.ce) AS DOUBLE) AS y
    FROM embeddings e, cents c
  ) z
  GROUP BY vid, cvid
),
assign AS (
  SELECT vid, cell FROM (
    SELECT vid, cell, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cell) AS rn
    FROM d2
  ) WHERE rn = 1
),
probe AS (
  SELECT vid AS qid, cell FROM (
    SELECT vid, cell, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d, cell) AS rn
    FROM d2 WHERE vid < 5
  ) WHERE rn <= 2
),
norms AS (
  SELECT vec_id, SQRT(SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
  GROUP BY vec_id
),
cand AS (
  SELECT p.qid, a.vid, a.cell
  FROM probe p JOIN assign a ON a.cell = p.cell AND a.vid <> p.qid
),
dots AS (
  SELECT qid, vid, cell, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
  FROM (
    SELECT c.qid, c.vid, c.cell, unnest(eq.embedding) AS x, unnest(ev.embedding) AS y
    FROM cand c
    JOIN embeddings eq ON eq.vec_id = c.qid
    JOIN embeddings ev ON ev.vec_id = c.vid
  ) p
  GROUP BY qid, vid, cell
),
sims AS (
  SELECT d.qid, d.vid, d.cell, ROUND(d.dot / (nq.nrm * nv.nrm), 6) AS sim
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.qid
  JOIN norms nv ON nv.vec_id = d.vid
),
ranked AS (
  SELECT qid, vid, CAST(sim AS DOUBLE) AS sim, cell,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rn
  FROM sims
)
SELECT qid, vid AS vec_id_n, sim, CAST(rn AS BIGINT) AS rn, CAST(cell AS BIGINT) AS cell
FROM ranked WHERE rn <= 5 ORDER BY qid, rn
""",
))


def _embedding_neardup_build(spark, sf, max_bucket=256):
    """Embedding-cosine similar pairs: sign-LSH bucket join restricts
    candidates, exact double cosine >= threshold confirms. Never
    all-pairs. (Production near-dup would use ~0.95; the fixture tops
    out at cosine 0.52 so the spec mines at 0.4.)

    Hot-bucket bound (100 TB guard, mirrors operators/dedup.py
    lsh_candidate_pairs): a sign bucket with > ``max_bucket`` members
    (e.g. near-zero embeddings all hashing to one pattern) would emit
    O(n²) pairs on one shuffle partition; such buckets are star-collapsed
    to their min-id hub — O(n) pairs, cluster connectivity preserved."""
    from ..operators.similarity import dot_product, sign_bucket, with_norm

    base = with_norm(spark.table("embeddings")).withColumn(
        "__bucket", sign_bucket("embedding", 8)
    )
    # materialize AFTER the bucket-size window: the sized relation feeds
    # FIVE consumers (both small-side aliases, the hot hub aggregate and
    # both hot-side aliases), each of which otherwise re-ran the norm
    # fold + Exchange + Sort + Window over the full embedding table —
    # the lsh_candidate_pairs fix applied to the sign-LSH miner
    # (round-16 optimization pass)
    from ..operators.materialize import materialize

    base = materialize(
        base.withColumn(
            "__bsz", F.count("*").over(Window.partitionBy("__bucket"))
        )
    )
    small = base.filter(F.col("__bsz") <= max_bucket)
    hot = base.filter(F.col("__bsz") > max_bucket)

    def _sides(df):
        a = df.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("ea"),
            F.col("__norm").alias("na"),
            F.col("__bucket").alias("bk"),
        )
        b = df.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("eb"),
            F.col("__norm").alias("nb"),
            F.col("__bucket").alias("bk"),
        )
        return a, b

    a, b = _sides(small)
    pairs = a.join(b, ["bk"]).filter(F.col("id_a") < F.col("id_b"))

    hub = hot.groupBy("__bucket").agg(F.min("vec_id").alias("id_a"))
    ha, hb = _sides(hot)
    hot_pairs = (
        hub.join(ha.withColumnRenamed("id_a", "__hub_chk"), hub["id_a"] == F.col("__hub_chk"))
        .select("id_a", "ea", "na", F.col("bk"))
        .join(hb, ["bk"])
        .filter(F.col("id_b") > F.col("id_a"))
    )
    pairs = pairs.select("id_a", "ea", "na", "id_b", "eb", "nb").unionByName(
        hot_pairs.select("id_a", "ea", "na", "id_b", "eb", "nb")
    )
    # compute the O(dim) cosine fold exactly ONCE per candidate pair
    # (round-17 optimization): filtering directly on the sim column let
    # the optimizer push the threshold INTO both bucket-join conditions,
    # where the full dot-product fold was evaluated once per pair for
    # the condition and AGAIN in the projection (guide §4.4's
    # duplicated-expression class — the same defect r16 fixed in
    # cosine_topk, visible verbatim in
    # plans/r17/dedup_embedding_cosine_before.txt's join conditions).
    # No window exists here to hide the filter behind, so the fold is
    # materialized into a pairs-scale 3-column relation (bounded by the
    # hot-bucket cap) and the threshold filters checkpoint blocks.
    # Interleaved noop best-of-5 at sf0.1: 1.003 -> 0.863 s mean (-14%),
    # identical 24 pairs; at production dims the per-pair saving doubles.
    from ..operators.materialize import materialize as _materialize

    scored = _materialize(
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                dot_product(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
    )
    return (
        scored.filter(F.col("sim") >= 0.4)
        .select("id_a", "id_b", F.col("sim").cast("double").alias("sim"))
        .orderBy("id_a", "id_b")
    )


SPECS.append(QuerySpec(
    name="dedup_embedding_cosine",
    doc="Embedding similar-pair mining: sign-LSH bucket equi-join then "
        "exact cosine >= 0.4 (the vector analogue of LSH+Jaccard; the "
        "fixture has no pairs above 0.52, so a production near-dup cut "
        "of ~0.95 would be vacuous here).",
    tags=("llm", "dedup", "similarity"),
    build=_embedding_neardup_build,
    oracle=f"""
WITH norms AS (
  SELECT vec_id, SQRT(SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
  GROUP BY vec_id
),
bk AS (SELECT vec_id, {_sign_bits_duck('embedding')} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
dots AS (
  SELECT id_a, id_b, SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
  FROM (
    SELECT p.id_a, p.id_b, unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.id_a
    JOIN embeddings eb ON eb.vec_id = p.id_b
  ) z
  GROUP BY id_a, id_b
)
SELECT d.id_a, d.id_b,
       CAST(ROUND(d.dot / (na.nrm * nb.nrm), 6) AS DOUBLE) AS sim
FROM dots d
JOIN norms na ON na.vec_id = d.id_a
JOIN norms nb ON nb.vec_id = d.id_b
WHERE ROUND(d.dot / (na.nrm * nb.nrm), 6) >= 0.4
ORDER BY id_a, id_b
""",
))

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="text_stats_quality",
    doc="Per-doc char/token counts, avg token length, stopword count, "
        "quality gate — pure length/replace arithmetic, one map stage.",
    tags=("llm", "text", "headline"),
    build=lambda spark, sf: TX.text_stats(spark.table("documents")).orderBy("doc_id"),
    oracle="""
SELECT doc_id, lang,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_q,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
       CAST(ROUND(LENGTH(REPLACE(text, ' ', '')) * 1.0 /
            (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 4) AS DOUBLE) AS avg_tok_len,
       CAST(len(list_filter(string_split(lower(text), ' '),
                            x -> x = 'the')) AS BIGINT) AS n_the,
       CASE WHEN LENGTH(text) >= 50
             AND (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) >= 10
            THEN 1 ELSE 0 END AS quality_ok
FROM documents
ORDER BY doc_id
""",
))


def _langid_oracle() -> str:
    markers = {"en": ("the", "and"), "es": ("el", "la"),
               "de": ("der", "und"), "fr": ("le", "et")}
    cols = []
    for lang, ms in markers.items():
        terms = " + ".join(
            f"len(list_filter(toks, x -> x = '{m}'))" for m in ms
        )
        cols.append(f"CAST({terms} AS BIGINT) AS c_{lang}")
    cols_sql = ",\n       ".join(cols)
    return f"""
WITH c AS (
  SELECT doc_id, lang AS actual_lang,
       {cols_sql}
  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
        FROM documents) x
)
SELECT doc_id, actual_lang, c_en, c_es, c_de, c_fr,
       CASE WHEN c_en IS NULL THEN NULL
            WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
            WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
            WHEN c_de >= c_fr THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM c
ORDER BY doc_id
"""


SPECS.append(QuerySpec(
    name="text_lang_id_markers",
    doc="Marker-word language ID with deterministic tie-break order.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.lang_id_scores(spark.table("documents")).orderBy("doc_id"),
    oracle=_langid_oracle,
))

SPECS.append(QuerySpec(
    name="text_fingerprints",
    doc="Exact + bag-of-words md5 fingerprints; groups shuffled dups.",
    tags=("llm", "text"),
    build=lambda spark, sf: (
        TX.fingerprints(spark.table("documents"))
        .groupBy("fp_bag")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.count_distinct("fp_exact").cast("bigint").alias("n_exact_variants"),
        )
        .orderBy("fp_bag")
    ),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(lower(text)) AS fp_exact,
         md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS fp_bag
  FROM documents
)
SELECT fp_bag, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(COUNT(DISTINCT fp_exact) AS BIGINT) AS n_exact_variants
-- NULLS FIRST: the engine now fingerprints NULL text as a NULL group
-- (Spark ASC default); DuckDB defaults NULLS LAST
FROM fp GROUP BY fp_bag ORDER BY fp_bag NULLS FIRST
""",
))

SPECS.append(QuerySpec(
    name="text_token_counts",
    doc="Token counting three ways (whitespace, word/punct, BPE-ish "
        "piece approximation) for LLM cost budgeting — pure regex "
        "counting, one map stage; regexes portable Java-regex/RE2.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.token_counts(spark.table("documents")).orderBy("doc_id"),
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
         AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
         AS n_bpe_pieces,
       CAST(ROUND(LENGTH(text) * 1.0 /
            GREATEST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')), 1),
            4) AS DOUBLE) AS chars_per_piece
FROM documents
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_rolling_hash",
    doc="Rolling polynomial-hash fingerprints (full-doc fold + winnowing "
        "minimum over 8-char windows), all JVM-side higher-order "
        "expressions; the oracle folds char-for-char identically via "
        "ord/list_reduce.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.rolling_hashes(spark.table("documents")).orderBy("doc_id"),
    oracle="""
WITH codes AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> ord(substring(text, i, 1))) AS cs,
         length(text) AS n
  FROM documents
)
SELECT doc_id,
       -- n IS NULL first: for NULL text the engine fingerprints NULL
       -- (the repo-wide absent-content contract, like fp_bag); the old
       -- ELSE branch fell through to list_prepend(0, NULL) -> [0] ->
       -- fold 0, silently conflating NULL docs with EMPTY docs — found
       -- by the hand-oracle audit (round-12 continuation), invisible to
       -- the driver because the fixtures carry no NULL text
       CAST(CASE WHEN n IS NULL THEN NULL WHEN n = 0 THEN 0 ELSE
         list_reduce(list_prepend(0, cs), (acc, c) -> (acc * 31 + c) % 1000003)
       END AS BIGINT) AS fp_poly,
       CAST(CASE WHEN n IS NULL THEN NULL WHEN n = 0 THEN 0 ELSE
         list_min(list_transform(range(1, greatest(n - 7, 1) + 1),
           i -> list_reduce(list_prepend(0, cs[i : least(i + 7, n)]),
                            (acc, c) -> (acc * 31 + c) % 1000003)))
       END AS BIGINT) AS fp_winnow_min
FROM codes
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_redact_scrub",
    doc="Scrubbing pass: redact digit runs and collapse whitespace (the "
        "PII/noise-removal shape of a training-data pipeline), with "
        "per-doc counts of redactions — one map stage, portable regexes.",
    tags=("llm", "text"),
    build=lambda spark, sf: (
        spark.table("documents")
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("text", "[0-9]+", "<NUM>"), "\\s+", " "
            ).alias("scrubbed"),
            F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0))
            .cast("bigint").alias("n_digit_runs"),
            (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", "")))
            .cast("bigint").alias("n_digits"),
        )
        .orderBy("doc_id")
    ),
    oracle=r"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), '\s+', ' ', 'g')
         AS scrubbed,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
       CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
         AS n_digits
FROM documents
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_url_parse",
    doc="Crawl-corpus URL handling: synthesize a deterministic URL per "
        "doc, then extract host / path / full query / one query param "
        "JVM-side via parse_url (a map stage; at scale this runs inside "
        "whole-stage codegen on the source scan). Oracle re-derives the "
        "parts with portable regexes.",
    tags=("llm", "text"),
    build=lambda spark, sf: (
        spark.table("documents")
        .select(
            "doc_id",
            F.concat(
                F.lit("https://site-"), (F.col("doc_id") % 10).cast("string"),
                F.lit(".example/docs/"), F.col("doc_id").cast("string"),
                F.lit("?lang="), F.col("lang"),
                F.lit("&rev="), (F.col("doc_id") * 7 % 100).cast("string"),
            ).alias("url"),
        )
        .select(
            "doc_id",
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY")).alias("query"),
            F.parse_url("url", F.lit("QUERY"), F.lit("rev")).alias("rev"),
        )
        .orderBy("doc_id")
    ),
    oracle="""
WITH u AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 10 AS VARCHAR) || '.example/docs/'
           || CAST(doc_id AS VARCHAR) || '?lang=' || lang
           || '&rev=' || CAST(doc_id * 7 % 100 AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
       regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '[?]([^#]*)', 1) AS query,
       regexp_extract(url, '[?&]rev=([^&#]*)', 1) AS rev
FROM u
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_top_ngrams_per_lang",
    doc="Corpus vocabulary profile: top-5 word bigrams per language "
        "(explode -> hash-agg -> windowed top-k; at 100 TB the explode "
        "is map-side and the only shuffle is the count agg on bigram "
        "keys, with map-side partial aggregation).",
    tags=("llm", "text"),
    build=lambda spark, sf: (
        spark.table("documents")
        .select("lang", F.split(F.lower("text"), " ").alias("w"))
        # guard: Spark sequence(1, 0) is DESCENDING [1,0], not empty —
        # a 1-token doc would emit null bigrams without this filter
        .filter(F.size("w") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(w[i-1], ' ', w[i]))"
                )
            ).alias("bigram"),
        )
        .groupBy("lang", "bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("lang", "bigram", "n", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("lang", "rk")
    ),
    oracle="""
WITH words AS (
  SELECT lang, doc_id, string_split(lower(text), ' ') AS w FROM documents
),
bigrams AS (
  SELECT lang, w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS bigram
  FROM (SELECT lang, w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM words WHERE len(w) >= 2) t
),
counted AS (
  SELECT lang, bigram, COUNT(*) AS n FROM bigrams GROUP BY lang, bigram
),
ranked AS (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
  FROM counted
)
SELECT lang, bigram, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5 ORDER BY lang, rk
""",
))


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas decode — deterministic fake codec)
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="multimodal_decode_features",
    doc="Binary payload column + Arrow-batched mapInPandas decode "
        "(deterministic fake codec; real plumbing/schema/batching).",
    tags=("llm", "multimodal"),
    build=lambda spark, sf: (
        decode_features(attach_binary_payload(spark.table("documents")))
        .orderBy("doc_id")
    ),
    oracle="""
SELECT doc_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) * 7) % 64 + 1 AS INTEGER) AS height,
       -- NULL payload decodes to NULL dims (round-11 contract), so the
       -- frame count is NULL too, never an unconditional 1
       CAST(CASE WHEN text IS NULL THEN NULL ELSE 1 END AS INTEGER)
         AS n_frames
FROM documents
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="multimodal_frame_sample",
    doc="Video-style frame sampling: the binary payload is cut into "
        "64-byte frames and every 4th frame is sliced out of the buffer "
        "inside an Arrow batch (mapInPandas fan-out after the scan). "
        "Oracle re-derives offsets/lengths from octet_length arithmetic.",
    tags=("llm", "multimodal"),
    build=lambda spark, sf: (
        sample_frames(attach_binary_payload(spark.table("documents")))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("offset").cast("bigint").alias("offset"),
            F.col("frame_len").cast("int").alias("frame_len"),
        )
        .orderBy("doc_id", "frame_idx")
    ),
    oracle="""
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
),
f AS (
  SELECT doc_id, nb,
         unnest(generate_series(0, CAST(CEIL(nb / 64.0) AS INTEGER) - 1))
           AS frame_idx
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 64 AS BIGINT) AS "offset",
       CAST(LEAST(64, nb - frame_idx * 64) AS INTEGER) AS frame_len
FROM f
WHERE frame_idx % 4 = 0
ORDER BY doc_id, frame_idx
""",
))

# byte sizes straddling the 64-byte frame boundary: below/at/above one
# frame, at/around multiples, and sizes whose LAST (short) frame is
# itself a sampled index (257 -> frames 0..4, sampled {0,4}, frame 4 is
# 1 byte) — the short-last-chunk class that bit the round-5 text ops
_FRAME_BOUNDARY_SIZES = [1, 63, 64, 65, 128, 255, 256, 257, 300]

SPECS.append(QuerySpec(
    name="multimodal_frame_boundary_sizes",
    doc="sample_frames offset/length integrity at non-multiple payload "
        "sizes (round-5 verdict task 8): pinned payloads straddling the "
        "64-byte frame boundary must emit exact offsets and a short "
        "final frame_len (= n_bytes - offset, never 0, never frame_bytes "
        "padded). Same mapInPandas plumbing as multimodal_frame_sample.",
    tags=("llm", "multimodal"),
    build=lambda spark, sf: (
        sample_frames(
            spark.createDataFrame(
                [(9000 + i, n) for i, n in enumerate(_FRAME_BOUNDARY_SIZES)],
                "doc_id bigint, n int",
            ).select(
                "doc_id",
                F.encode(F.repeat(F.lit("x"), F.col("n")), "utf-8").alias(
                    "payload"
                ),
                F.struct(
                    F.lit("video").alias("modality"),
                    F.col("n").cast("long").alias("n_bytes"),
                ).alias("meta"),
            )
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("offset").cast("bigint").alias("offset"),
            F.col("frame_len").cast("int").alias("frame_len"),
        )
        .orderBy("doc_id", "frame_idx")
    ),
    oracle=lambda: """
WITH d(doc_id, nb) AS (VALUES {pairs}),
f AS (
  SELECT doc_id, nb,
         unnest(generate_series(0, CAST(CEIL(nb / 64.0) AS INTEGER) - 1))
           AS frame_idx
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 64 AS BIGINT) AS "offset",
       CAST(LEAST(64, nb - frame_idx * 64) AS INTEGER) AS frame_len
FROM f
WHERE frame_idx % 4 = 0
ORDER BY doc_id, frame_idx
""".replace(
        "{pairs}",
        ", ".join(
            f"({9000 + i}, {n})" for i, n in enumerate(_FRAME_BOUNDARY_SIZES)
        ),
    ),
))


# ---------------------------------------------------------------------------
# As-of join (events: purchases pick up the latest prior click per user)
# ---------------------------------------------------------------------------


def _asof_build(spark, sf):
    from ..operators.asof import asof_join

    ev = spark.table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    # one click per (user, ts), deterministically the min event_id with
    # its value: equal-ts arbitration is unspecified in both the window
    # carry and DuckDB's ASOF JOIN, so a same-microsecond click pair
    # would flake the parity (review round 11; the tolerance and
    # forward/nearest siblings collapse the same way)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min(F.struct("event_id", "value")).alias("__c"))
        .select(
            "user_id",
            "ts",
            F.col("__c.event_id").alias("click_event_id"),
            F.col("__c.value").alias("click_value"),
        )
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_event_id", "click_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_click_event_id").cast("bigint").alias("click_event_id"),
        F.round(F.col("asof_click_value"), 2).cast("double").alias("click_value"),
    ).orderBy("event_id")


SPECS.append(QuerySpec(
    name="asof_join_purchase_click",
    doc="As-of join: each purchase event picks up the latest click at or "
        "before it per user (union+window trick, one shuffle by key). "
        "Oracle uses DuckDB's native ASOF JOIN.",
    tags=("join", "asof", "headline"),
    build=_asof_build,
    oracle="""
SELECT p.event_id, p.user_id,
       CAST(c.event_id AS BIGINT) AS click_event_id,
       CAST(ROUND(c.value, 2) AS DOUBLE) AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  -- same deterministic (user, ts) collapse as the engine: the min
  -- event_id's row (event_id is globally unique, so min_by is exact)
  SELECT user_id, ts,
         MIN(event_id) AS event_id,
         min_by(value, event_id) AS value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.event_id
""",
))


SPECS.append(QuerySpec(
    name="text_chunk_windows",
    doc="Overlapping sliding-window chunking (200-char windows, stride "
        "150) — the context-window preparation step of an LLM training "
        "pipeline. Pure JVM: sequence+posexplode fan-out after the scan; "
        "chunk content pinned by md5. One map stage, no shuffle until "
        "the final order.",
    tags=("llm", "text", "chunking"),
    build=lambda spark, sf: (
        spark.table("documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            "text",
            F.posexplode(
                F.sequence(F.lit(0), F.floor((F.length("text") - 1) / 150))
            ).alias("chunk_idx", "__i"),
        )
        # text rides through the fan-out: one map stage, no re-join scan
        .withColumn(
            "__chunk",
            F.expr("substring(text, cast(chunk_idx * 150 + 1 as int), 200)"),
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * 150 + 1).cast("bigint").alias("chunk_start"),
            F.length("__chunk").cast("int").alias("chunk_len"),
            F.md5("__chunk").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    ),
    oracle="""
WITH d AS (SELECT doc_id, text, LENGTH(text) AS n FROM documents WHERE LENGTH(text) > 0),
c AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST((n - 1) // 150 AS INTEGER))) AS chunk_idx
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * 150 + 1 AS BIGINT) AS chunk_start,
       CAST(LENGTH(substring(text, chunk_idx * 150 + 1, 200)) AS INTEGER) AS chunk_len,
       md5(substring(text, chunk_idx * 150 + 1, 200)) AS chunk_md5
FROM c
ORDER BY doc_id, chunk_idx
""",
))


SPECS.append(QuerySpec(
    name="embedding_quantize_int8",
    doc="Saturating int8 quantization of the embedding column (max-abs "
        "per-vector scale, codes = floor(x/scale*127 + 0.5)): the "
        "compression step before ANN shipping. All arithmetic forced to "
        "double on both engines so the codes are bit-identical; emitted "
        "as per-vector code statistics.",
    tags=("llm", "similarity", "quantize"),
    build=lambda spark, sf: (
        spark.table("embeddings")
        .withColumn(
            "scale",
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        )
        .filter(F.col("scale") > 0)
        .withColumn(
            "codes",
            F.transform(
                "embedding",
                lambda x: F.floor(
                    x.cast("double") / F.col("scale") * 127.0 + 0.5
                ).cast("int"),
            ),
        )
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.round("scale", 6).cast("double").alias("scale"),
            F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, x: a + x)
            .alias("sum_code"),
            F.array_min("codes").cast("int").alias("min_code"),
            F.array_max("codes").cast("int").alias("max_code"),
            F.size(F.filter("codes", lambda x: F.abs(x) == 127))
            .cast("int").alias("n_saturated"),
        )
        .orderBy("vec_id")
    ),
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS scale,
         list_transform(
           embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) /
                list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))
                * 127.0 + 0.5) AS INTEGER)
         ) AS codes
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(ROUND(scale, 6) AS DOUBLE) AS scale,
       CAST(list_sum(codes) AS BIGINT) AS sum_code,
       CAST(list_min(codes) AS INTEGER) AS min_code,
       CAST(list_max(codes) AS INTEGER) AS max_code,
       CAST(len(list_filter(codes, x -> ABS(x) = 127)) AS INTEGER) AS n_saturated,
FROM q
WHERE scale > 0
ORDER BY vec_id
""",
))


def _tfidf_build(spark, sf):
    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    tokens = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # document frequency FROM the tf relation: tf already holds exactly
    # one row per (doc_id, token), so counting its rows per token IS df
    # — the old distinct re-exploded the corpus and shuffled the full
    # token relation a second time for a fact the tf aggregate already
    # established (round-16 optimization pass)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.count()  # driver-side scalar: one tiny job
    scored = (
        tf.join(dfreq, "token")
        .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round("tfidf", 6).desc(), "token"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("tfidf", 4).cast("double").alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("doc_id", "rk")
    )


SPECS.append(QuerySpec(
    name="text_tfidf_top_terms",
    doc="TF-IDF top-3 terms per document (tf * ln(N/df) over the "
        "restricted corpus) — the classic salient-term extraction of a "
        "training-data pipeline. Ranking on the 6-dp-rounded score with "
        "a token tiebreak so FP noise cannot reorder across engines; "
        "two shuffles (tf and df aggregations) + a broadcast-size join.",
    tags=("llm", "text", "tfidf"),
    build=_tfidf_build,
    oracle="""
WITH docs AS (SELECT * FROM documents WHERE doc_id < 100),
tokens AS (
  SELECT doc_id, t.token
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM docs) t
  WHERE t.token <> ''
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
dfreq AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM docs),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * LN(1.0 * n.n_docs / dfreq.df) AS tfidf
  FROM tf, dfreq, n WHERE tf.token = dfreq.token
),
ranked AS (
  SELECT doc_id, token, tf, df, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(tfidf, 6) DESC, token) AS rk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(ROUND(tfidf, 4) AS DOUBLE) AS tfidf,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
""",
))


def _hll_sketch_build(spark, sf):
    docs = spark.table("documents")
    per = docs.groupBy("lang").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count_distinct("doc_id").alias("exact"),
    )
    per_ok = per.select(
        "lang",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact"))
            / F.col("exact")
            <= 0.05
        ).cast("int").alias("within_5pct"),
    )
    union_ok = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum("exact").alias("exact"),
    ).select(
        F.lit("_union_all").alias("lang"),
        (
            F.abs(F.col("est") - F.col("exact")) / F.col("exact") <= 0.05
        ).cast("int").alias("within_5pct"),
    )
    return per_ok.unionByName(union_ok).orderBy("lang")


SPECS.append(QuerySpec(
    name="sketch_hll_union",
    doc="Mergeable HyperLogLog sketches (Apache DataSketches builtins): "
        "per-language distinct-count sketches plus their UNION re-"
        "aggregated to the global estimate — the mergeable-state pattern "
        "that makes distributed distinct counting one pass at 100 TB. "
        "Deterministic (fixed internal seed); declared approximate, so "
        "the spec emits 5%-tolerance booleans (same convention as "
        "approx_distinct_percentile).",
    tags=("llm", "sketch", "approx"),
    build=_hll_sketch_build,
    oracle="""
SELECT lang, CAST(within_5pct AS INTEGER) AS within_5pct
FROM (VALUES
  ('_union_all', 1), ('de', 1), ('en', 1), ('es', 1), ('fr', 1), ('zh', 1)
) t(lang, within_5pct)
ORDER BY lang
""",
))


def _balanced_sample_build(spark, sf):
    docs = spark.table("documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "lang",
            F.col("sample_rank").cast("int").alias("sample_rank"),
        )
        .orderBy("lang", "sample_rank")
    )


SPECS.append(QuerySpec(
    name="sample_balanced_per_group",
    doc="Deterministic class-balanced subsample: cap 20 documents per "
        "language, chosen by md5(doc_id) rank within the group — the "
        "standard over/under-sampling step of a training-data pipeline, "
        "reproducible across engines and runs (no rand()). One window "
        "per group; at 100 TB this is a single shuffle on the group key "
        "with the per-group top-k done in partial form map-side.",
    tags=("llm", "sampling"),
    build=_balanced_sample_build,
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM documents
)
WHERE sample_rank <= 20
ORDER BY lang, sample_rank
""",
))




# ---------------------------------------------------------------------------
# Repetition quality filters + benchmark decontamination (Gopher §A1.1 /
# GPT-3 appendix C — the two corpus gates every LLM training pipeline
# runs between dedup and split). All outputs are integer counts and
# integer-arithmetic flags: exact on both engines by construction.
# ---------------------------------------------------------------------------

_TOKS_CTE = """
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS ord
  FROM documents
)
"""

SPECS.append(QuerySpec(
    name="text_repetition_filters",
    doc="Gopher-style repetition metrics per document — distinct-token "
        "count, modal token count, modal adjacent-bigram count — and an "
        "integer-arithmetic keep flag (distinct/total >= 0.3 AND "
        "top-bigram fraction <= 0.2). Map-only higher-order array "
        "expressions: the token array never leaves its row.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.repetition_metrics(
        spark.table("documents")
    ).orderBy("doc_id"),
    oracle=lambda: f"""
WITH {_TOKS_CTE.strip()},
tot AS (
  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS distinct_tokens
  FROM toks GROUP BY doc_id
),
topt AS (
  SELECT doc_id, MAX(c) AS top_token_n
  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2) GROUP BY doc_id
),
bg AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
),
bgt AS (SELECT doc_id, COUNT(*) AS n_bigrams FROM bg GROUP BY doc_id),
topb AS (
  SELECT doc_id, MAX(c) AS top_bigram_n
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id
)
-- FROM documents, not tot: a NULL-text doc has no toks rows and would
-- silently vanish while the engine emits its (NULL metrics, keep=0)
-- row — the repo-wide NULL-text contract (review round 11)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.distinct_tokens AS BIGINT) AS distinct_tokens,
       CAST(topt.top_token_n AS BIGINT) AS top_token_n,
       CAST(CASE WHEN d.text IS NULL THEN NULL
                 ELSE COALESCE(bgt.n_bigrams, 0) END AS BIGINT) AS n_bigrams,
       CAST(CASE WHEN d.text IS NULL THEN NULL
                 ELSE COALESCE(topb.top_bigram_n, 0) END AS BIGINT)
         AS top_bigram_n,
       CAST(CASE WHEN d.text IS NULL THEN 0
                 ELSE CAST(t.distinct_tokens * 10 >= t.n_tokens * 3
            AND (COALESCE(bgt.n_bigrams, 0) < 10
                 OR COALESCE(topb.top_bigram_n, 0) * 5 <= COALESCE(bgt.n_bigrams, 0))
            AS INTEGER) END AS INTEGER) AS keep
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN topt ON topt.doc_id = d.doc_id
LEFT JOIN bgt ON bgt.doc_id = d.doc_id
LEFT JOIN topb ON topb.doc_id = d.doc_id
ORDER BY doc_id
""",
))


SPECS.append(QuerySpec(
    name="decontaminate_ngram_overlap",
    doc="Benchmark decontamination: distinct word-3-gram overlap of every "
        "corpus document (doc_id >= 20) against the benchmark set "
        "(doc_id < 20), with an integer-arithmetic contaminated flag at "
        ">= 5%. The benchmark gram set is metadata scale and broadcast; "
        "the only shuffle is the per-doc count aggregation.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.ngram_overlap_vs_benchmark(
        spark.table("documents").filter(F.col("doc_id") >= 20),
        spark.table("documents").filter(F.col("doc_id") < 20),
    ).orderBy("doc_id"),
    oracle=lambda: f"""
WITH {_TOKS_CTE.strip()},
g AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS gram
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
corp AS (SELECT * FROM g WHERE doc_id >= 20),
tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM corp GROUP BY doc_id),
ov AS (
  SELECT doc_id, COUNT(*) AS n_overlap FROM corp
  WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(ov.n_overlap, 0) * 20 >= t.n_ngrams AS INTEGER) AS contaminated
FROM tot t LEFT JOIN ov ON ov.doc_id = t.doc_id
ORDER BY doc_id
""",
))



SPECS.append(QuerySpec(
    name="multimodal_resize_batch",
    doc="Image-resize plumbing over binary payloads: every payload's "
        "byte buffer is strided by 2 inside the Arrow batch (the "
        "deterministic stand-in for PIL resize), dims halved, resized "
        "content md5-fingerprinted. The oracle reconstructs the same "
        "byte slice with list arithmetic and hashes it — the "
        "transformation is content-verified cross-engine, not just "
        "schema-checked.",
    tags=("llm", "multimodal"),
    # spec domain: ASCII payloads (octet_length = char_length) plus
    # NULL rows — the oracle fakes BYTE arithmetic with ascii(char),
    # which only coincides for 1-byte chars (round-12-continuation
    # multibyte sweep); the OPERATOR stays byte-general and is
    # byte-tested in tests/test_operators.py
    build=lambda spark, sf: (
        resize_images(attach_binary_payload(
            spark.table("documents").filter(
                F.col("text").isNull()
                | (F.octet_length("text") == F.length("text"))
            )
        ))
        .orderBy("doc_id")
    ),
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) % 64 + 1 AS INTEGER) AS width,
       CAST((length(text) * 7) % 64 + 1 AS INTEGER) AS height,
       -- CASE-wrapped, not bare greatest: DuckDB greatest() IGNORES a
       -- NULL argument (returns 1) while the engine's NULL-payload
       -- contract emits NULL metrics for NULL payloads — found by the
       -- round-12-continuation NULL/empty differential sweep (the
       -- fixtures carry no NULL text, so the driver never saw it)
       CAST(CASE WHEN text IS NULL THEN NULL
                 ELSE greatest((length(text) % 64 + 1) // 2, 1)
            END AS INTEGER) AS new_width,
       CAST(CASE WHEN text IS NULL THEN NULL
                 ELSE greatest(((length(text) * 7) % 64 + 1) // 2, 1)
            END AS INTEGER) AS new_height,
       CAST((length(text) + 1) // 2 AS BIGINT) AS n_bytes,
       -- coalesce to '': array_to_string over the EMPTY transform list
       -- yields NULL in DuckDB, but an empty payload's resized content
       -- is the empty byte string and the engine hashes md5('')
       CASE WHEN text IS NULL THEN NULL
            ELSE md5(coalesce(array_to_string(
              list_transform(range(1, length(text) + 1, 2),
                             i -> substring(text, CAST(i AS INTEGER), 1)),
              ''), ''))
       END AS content_md5
FROM documents
WHERE text IS NULL OR strlen(text) = length(text)
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_bigram_fluency",
    doc="Corpus-relative fluency (the KenLM-perplexity-filter analogue, "
        "integer-exact): per-doc fixed-point mean conditional bigram "
        "probability floor(1e6*c(prev,tok)/(c(prev)+V)) under corpus-"
        "wide counts, V = continuation vocabulary (distinct tok over "
        "the pair table, Kneser-Ney flavor) — predictable text scores "
        "high, garbled text low, no transcendental log so the score is "
        "bit-identical on any engine. Corpus tokenized exactly once "
        "(shared bigram subtree checkpointed); vocabulary and bigram "
        "tables stay distributed.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.bigram_fluency(
        spark.table("documents")
    ).orderBy("doc_id"),
    oracle=lambda: f"""
WITH {_TOKS_CTE.strip()},
bigrams AS (
  SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS prev, tok
  FROM toks
),
bg AS (SELECT * FROM bigrams WHERE prev IS NOT NULL),
pair_c AS (SELECT prev, tok, COUNT(*) AS cp FROM bg GROUP BY prev, tok),
prev_c AS (SELECT prev, SUM(cp) AS cv FROM pair_c GROUP BY prev),
v AS (SELECT COUNT(DISTINCT tok) AS vn FROM pair_c)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM((cp * 1000000) // (cv + vn)) // COUNT(*) AS BIGINT) AS fluency_ppm,
       CAST(MIN((cp * 1000000) // (cv + vn)) AS BIGINT) AS min_ppm
FROM bg JOIN pair_c USING (prev, tok) JOIN prev_c USING (prev) CROSS JOIN v
GROUP BY doc_id
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="text_rare_token_fraction",
    doc="Corpus-relative rarity (CCNet-style quality heuristic, "
        "integer-exact perplexity stand-in): per-doc share of token "
        "occurrences whose corpus-wide count is <= 2. Vocabulary stays "
        "distributed; two linear shuffles.",
    tags=("llm", "text"),
    build=lambda spark, sf: TX.rare_token_fraction(
        spark.table("documents")
    ).orderBy("doc_id"),
    oracle=lambda: f"""
WITH {_TOKS_CTE.strip()},
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(FLOOR(SUM(CASE WHEN v.c <= 2 THEN 1 ELSE 0 END) * 100
                  / COUNT(*)) AS INTEGER) AS rare_pct
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
ORDER BY doc_id
""",
))


# ---------------------------------------------------------------------------
# Corpus-assembly tier (round 6): sequence packing, exact-substring
# duplicate spans (Lee et al. 2022), temperature mixture sampling — the
# last mile between a curated document set and a training run.
# ---------------------------------------------------------------------------

SPECS.append(QuerySpec(
    name="pack_sequences_concat_chunk",
    doc="Concat-and-chunk sequence packing: per source shard, documents "
        "are laid end-to-end in doc_id order and cut into 64-token "
        "training examples; each doc reports first/last pack and span "
        "count. One shuffle (shard-partitioned window), no global order.",
    tags=("llm", "packing"),
    build=lambda spark, sf: (
        CORPUS.pack_concat_chunks(spark.table("documents"), budget=64)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("cum_before").cast("bigint").alias("cum_before"),
            F.col("pack_first").cast("bigint").alias("pack_first"),
            F.col("pack_last").cast("bigint").alias("pack_last"),
            F.col("n_packs_spanned").cast("int").alias("n_packs_spanned"),
        )
        .orderBy("doc_id")
    ),
    oracle="""
WITH t AS (
  -- NULL text = zero tokens (the engine's round-10 NULL contract —
  -- the oracle moves in lockstep, review round 11)
  SELECT doc_id, source,
         CASE WHEN text IS NULL THEN 0
              ELSE CAST(len(string_split(text, ' ')) AS BIGINT)
         END AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(FLOOR(cum_before / 64.0) AS BIGINT) AS pack_first,
       -- zero-token doc: pack_last = pack_first, spans = 0 (not the
       -- -1 / inverted bounds of the last-token formula)
       CAST(CASE WHEN n_tokens > 0
                 THEN FLOOR((cum_before + n_tokens - 1) / 64.0)
                 ELSE FLOOR(cum_before / 64.0) END AS BIGINT) AS pack_last,
       CAST(CASE WHEN n_tokens > 0
                 THEN FLOOR((cum_before + n_tokens - 1) / 64.0)
                      - FLOOR(cum_before / 64.0) + 1
                 ELSE 0 END AS INTEGER) AS n_packs_spanned
FROM c
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="dedup_exact_substring_spans",
    doc="Exact-substring duplicate spans (Lee et al. 2022): merged token "
        "spans covered by any word-8-gram occurring more than once in "
        "the corpus, per document — the cut-these-spans-out signal. "
        "Distributed n-gram-hash formulation: two linear shuffles plus a "
        "per-document gaps-and-islands window.",
    tags=("llm", "dedup"),
    build=lambda spark, sf: (
        CORPUS.duplicated_ngram_spans(spark.table("documents"), n=8)
        .orderBy("doc_id")
    ),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
        FROM toks WHERE len(tk) >= 8) t
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
hits AS (
  SELECT doc_id, pos AS s, pos + 7 AS e FROM g JOIN dup USING (gram)
),
i1 AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM hits
),
i3 AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM i1
),
isl AS (
  SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e FROM i3 GROUP BY doc_id, isl
),
pd AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e - s + 1) AS dup_tokens
  FROM isl GROUP BY doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       -- NULL text = zero tokens, 0% dup (the engine's NULL contract;
       -- greatest(.,1) mirrors its divide-by-zero guard — review r11)
       CAST(COALESCE(len(tk), 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.n_dup_spans, 0) AS INTEGER) AS n_dup_spans,
       CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(FLOOR(COALESCE(pd.dup_tokens, 0) * 100
                  / GREATEST(COALESCE(len(tk), 0), 1)) AS INTEGER)
         AS dup_frac_pct
FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
ORDER BY doc_id
""",
))

SPECS.append(QuerySpec(
    name="sample_temperature_mixture",
    doc="Temperature (T=2) domain mixture sampling: per-domain quota "
        "proportional to sqrt(n_d), filled by each domain's smallest "
        "docs under the md5(doc_id) pseudo-random order — deterministic "
        "on any engine (sqrt is correctly rounded in IEEE 754; pow is "
        "not, which is why T is pinned to 2). Reports per-domain "
        "kept/total. Two domain-keyed shuffles, broadcast quota table.",
    tags=("llm", "sampling"),
    build=lambda spark, sf: (
        CORPUS.temperature_mixture_sample(
            spark.table("documents"), target_frac_pct=40
        ).orderBy("source")
    ),
    oracle="""
WITH c AS (SELECT source, COUNT(*) AS nd FROM documents GROUP BY source),
s AS (SELECT SUM(sqrt(nd)) AS ss, SUM(nd) AS total FROM c),
q AS (
  -- round-before-ceil matches the engine: at exactly-integral quotas
  -- (equal-size domains) 1-ulp summation noise must not flip the ceil
  SELECT source, CEIL(ROUND(40 * total * sqrt(nd) / (ss * 100), 9)) AS keep
  FROM c, s
),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT r.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN rk <= keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(FLOOR(SUM(CASE WHEN rk <= keep THEN 1 ELSE 0 END) * 100
                  / COUNT(*)) AS INTEGER) AS kept_pct
-- null-safe: a NULL-domain group is a real group, like the engine's
-- eqNullSafe join (review round 11 — plain USING dropped it)
FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source
GROUP BY r.source
ORDER BY source NULLS FIRST
""",
))

SPECS.append(QuerySpec(
    name="multimodal_audio_window_energy",
    doc="Audio-modality windowed feature extraction: payload bytes as "
        "unsigned 8-bit PCM, 64-sample frames, per-frame mean-square "
        "energy (integer floor — sqrt-free RMS stand-in) and peak, "
        "computed vectorized (numpy) inside the Arrow batch via "
        "mapInPandas. Oracle re-derives per-byte values with ascii() "
        "over the all-ASCII fixture text.",
    tags=("llm", "multimodal"),
    # same ASCII-payload spec domain as multimodal_resize_batch (the
    # ascii(char)-as-byte oracle; also: an emoji codepoint squared
    # overflowed DuckDB's INT32 — round-12-continuation multibyte sweep)
    build=lambda spark, sf: (
        audio_window_energy(attach_binary_payload(
            spark.table("documents").filter(
                F.col("text").isNull()
                | (F.octet_length("text") == F.length("text"))
            )
        ))
        .orderBy("doc_id", "win_idx")
    ),
    oracle="""
WITH pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
         ascii(substring(text, CAST(u.i AS INTEGER), 1)) AS s
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
  WHERE strlen(text) = length(text)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST((i - 1) // 64 AS INTEGER) AS win_idx,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(s * s) // COUNT(*) AS BIGINT) AS energy,
       CAST(MAX(s) AS INTEGER) AS peak
FROM pos
GROUP BY doc_id, (i - 1) // 64
ORDER BY doc_id, win_idx
""",
))

SPECS.append(QuerySpec(
    name="similarity_mine_triplets",
    doc="Hard-triplet mining for contrastive embedding training: per "
        "anchor the hardest positive (most-similar same-label) and "
        "hardest negative (most-similar other-label) with the margin; "
        "broadcast anchors, one window shuffle over (anchor, is-pos). "
        "Oracle = the same two argmaxes in SQL.",
    tags=("llm", "similarity"),
    build=lambda spark, sf: S.mine_triplets(
        spark.table("embeddings"), anchor_ids=[0, 7, 21, 50, 113]
    ),
    oracle="""
WITH norms AS (
  SELECT vec_id, SQRT(SUM(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS u FROM embeddings) t
  GROUP BY vec_id
),
a AS (
  SELECT vec_id AS anchor_id, label AS albl, embedding AS ae
  FROM embeddings WHERE vec_id IN (0, 7, 21, 50, 113)
),
dots AS (
  SELECT anchor_id, vec_id, albl, label,
         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
  FROM (
    SELECT a.anchor_id, e.vec_id, a.albl, e.label,
           unnest(a.ae) AS x, unnest(e.embedding) AS y
    FROM a JOIN embeddings e ON e.vec_id <> a.anchor_id
  ) p
  GROUP BY anchor_id, vec_id, albl, label
),
sims AS (
  SELECT d.anchor_id, d.vec_id,
         CAST(d.label = d.albl AS INTEGER) AS is_pos,
         ROUND(d.dot / (na.nrm * ne.nrm), 6) AS sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.anchor_id
  JOIN norms ne ON ne.vec_id = d.vec_id
),
best AS (
  SELECT anchor_id, vec_id, is_pos, sim,
         ROW_NUMBER() OVER (PARTITION BY anchor_id, is_pos
                            ORDER BY sim DESC, vec_id) AS rn
  FROM sims
)
SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
       CAST(MAX(CASE WHEN is_pos = 1 THEN vec_id END) AS BIGINT) AS pos_id,
       CAST(MAX(CASE WHEN is_pos = 1 THEN sim END) AS DOUBLE) AS pos_sim,
       CAST(MAX(CASE WHEN is_pos = 0 THEN vec_id END) AS BIGINT) AS neg_id,
       CAST(MAX(CASE WHEN is_pos = 0 THEN sim END) AS DOUBLE) AS neg_sim,
       CAST(ROUND(MAX(CASE WHEN is_pos = 1 THEN sim END)
                  - MAX(CASE WHEN is_pos = 0 THEN sim END), 6) AS DOUBLE)
         AS margin
FROM best
WHERE rn = 1
GROUP BY anchor_id
ORDER BY anchor_id
""",
))
