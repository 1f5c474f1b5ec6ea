"""LLM-pipeline cleaning/compliance operators (SURVEY §2 L-family
extension): PII redaction, unicode sanitization, corpus n-gram counts —
the standard pre-training text-cleanup stages between dedup (L1/L2) and
quality filtering (L6/L12).

The synthetic documents corpus contains no real PII/mojibake, so the
queries plant deterministic specimens keyed off doc_id in BOTH engines
(same expressions in the Spark fn and the DuckDB oracle) — the redaction
and sanitization machinery is then provably exercised on every row while
staying hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobhouse_spark.operators.dedup import exact_dedup_by_content
from jobhouse_spark.queries.registry import fin, register
from jobhouse_spark.tables import Tables, scratch_dir

# portable across Java regex (Spark) and RE2 (DuckDB): no lookarounds,
# no backrefs, explicit classes
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"
_CTL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


@register(
    "l18_pii_redaction",
    oracle=rf"""
WITH aug AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS text
  FROM documents WHERE doc_id < 2000)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM aug ORDER BY doc_id
""",
    tags=("llm", "text", "cleaning"),
)
def l18_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L18: PII redaction — regex email/phone detection counts + the
    redacted text (hashed for compare). Entirely JVM regexp_replace /
    regexp_count in whole-stage codegen: the per-row map-only shape that
    runs at corpus scan speed on 100 TB; no shuffle beyond the sort."""
    d = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 2000)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "l19_unicode_sanitize",
    oracle=rf"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1 THEN chr(7) || text ELSE text END
           || CASE WHEN doc_id % 7 = 2 THEN chr(65533) ELSE '' END AS text
  FROM documents WHERE doc_id < 2000)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_CTL_RE}')) AS INT) AS n_ctl,
       CAST(len(regexp_extract_all(text, chr(65533))) AS INT) AS n_fffd,
       md5(regexp_replace(regexp_replace(text, '{_CTL_RE}', '', 'g'),
                          chr(65533), '', 'g')) AS clean_md5,
       CAST(length(regexp_replace(regexp_replace(text, '{_CTL_RE}', '', 'g'),
                                  chr(65533), '', 'g')) AS BIGINT) AS clean_len
FROM aug ORDER BY doc_id
""",
    tags=("llm", "text", "cleaning"),
)
def l19_unicode_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L19: encoding sanitization — strip C0 control characters and
    U+FFFD replacement chars (the mojibake marker), reporting how many
    were found (a quality signal: high U+FFFD density = a botched
    decode upstream). Same map-only codegen shape as L18."""
    d = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 2000)
    fffd = "�"
    aug = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 4 == 1, "\x07").otherwise(""),
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 2, fffd).otherwise(""),
        ).alias("text"),
    )
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col("text"), _CTL_RE, ""), fffd, ""
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_CTL_RE)).cast("int").alias("n_ctl"),
        F.regexp_count(F.col("text"), F.lit(fffd)).cast("int").alias("n_fffd"),
        F.md5(cleaned).alias("clean_md5"),
        F.length(cleaned).cast("long").alias("clean_len"),
    ).orderBy("doc_id")


@register(
    "l5b_frame_sampling",
    oracle="""
WITH h AS (
  SELECT doc_id, sha256(text) AS base
  FROM documents WHERE doc_id < 100),
nf AS (
  SELECT doc_id, base,
         1 + ((strpos('0123456789abcdef', substr(base, 5, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(base, 6, 1)) - 1)) % 32
           AS n_frames
  FROM h),
frames AS (
  SELECT doc_id, base, unnest(range(0, n_frames, 4)) AS frame_idx FROM nf)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       sha256(base || ':' || CAST(frame_idx AS VARCHAR)) AS frame_sha256
FROM frames ORDER BY doc_id, frame_idx
""",
    tags=("llm", "multimodal"),
)
def l5b_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5b: video frame sampling as a differential check of the Python
    media pipeline — fake video bytes derived from document text run
    through the REAL row-expanding mapInPandas stage
    (sources/multimodal.sample_frames, stride 4); the oracle recomputes
    the deterministic stub (n_frames = 1 + sha256[2] % 32, frame hash =
    sha256(f"{content_sha}:{idx}")) in pure SQL. Verifies Arrow batch
    transfer, binary columns through Python, and the fan-out schema —
    the plumbing a real libav decoder drops into unchanged."""
    from jobhouse_spark.sources.multimodal import sample_frames  # noqa: PLC0415

    d = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.col("text").cast("binary").alias("content"),  # fake video bytes
    )
    return sample_frames(media, stride=4).orderBy(
        F.col("media_id").cast("int"), F.col("frame_idx")
    )


@register(
    "l20_corpus_ngram_counts",
    oracle=r"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
grams AS (
  SELECT unnest(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
  FROM toks WHERE len(t) >= 3)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
FROM grams GROUP BY gram
ORDER BY n DESC, gram ASC LIMIT 50
""",
    tags=("llm", "text", "ngram"),
)
def l20_corpus_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20: corpus-wide n-gram frequency counts (top-50 trigrams) — the
    counting job behind n-gram LMs, contamination indexes, and stopword
    inference. Scale shape: explode is map-side, the count is a single
    partial+final hash aggregate on the gram key (map-side combine
    collapses the heavy hitters before shuffle), and the top-50 is a
    TakeOrderedAndProject — no global sort materialization."""
    d = Tables(spark, sf_dir).documents
    grams = (
        d.select(F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), i -> "
                    "concat_ws(' ', element_at(t, i), element_at(t, i+1), "
                    "element_at(t, i+2)))"
                )
            ).alias("gram")
        )
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(50)
    )


@register(
    "l21_duplicated_spans",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
spans AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 6),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])))
           AS span
  FROM toks WHERE len(t) >= 8),
shared AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
per_doc AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM spans s JOIN shared USING (span) GROUP BY s.doc_id),
sizes AS (
  SELECT doc_id, CAST(len(list_distinct(list_transform(range(1, len(t) - 6),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])))
           AS BIGINT) AS n_spans
  FROM toks WHERE len(t) >= 8)
SELECT z.doc_id,
       z.n_spans,
       CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(CAST(CAST(COALESCE(p.n_shared, 0) AS DOUBLE) / z.n_spans
            AS DECIMAL(18,6)) AS DOUBLE) AS shared_ratio
FROM sizes z LEFT JOIN per_doc p USING (doc_id)
WHERE COALESCE(p.n_shared, 0) > 0
ORDER BY z.doc_id
""",
    tags=("llm", "text", "dedup"),
)
def l21_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21: exact-substring duplication detection — for every document,
    how many of its distinct 8-token spans also occur in at least one
    other document (the span-level signal behind suffix-array substring
    dedup: cross-document boilerplate that document-level MinHash never
    sees). Docs with zero shared spans are filtered out (the interesting
    rows — and the join output — stay proportional to the duplicated
    mass, not the corpus).

    Scale shape: inverted index on the span — explode is map-side, the
    shared-span set comes from one count-distinct aggregate, and the
    rejoin is span-key equi (no pair enumeration, unlike minhash
    candidates: output is per (doc, span), linear in corpus spans)."""
    toked = Tables(spark, sf_dir).documents.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
    ).filter(F.size("t") >= 8)
    span_expr = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(t) - 7), i -> "
            "concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2),"
            " element_at(t,i+3), element_at(t,i+4), element_at(t,i+5),"
            " element_at(t,i+6), element_at(t,i+7)))"
        )
    )
    spans = toked.select(
        "doc_id", F.size(span_expr).cast("long").alias("n_spans"),
        F.explode(span_expr).alias("span"),
    )
    shared = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span")
    )
    per_doc = (
        spans.join(shared, "span")
        .groupBy("doc_id", "n_spans")
        .agg(F.count("*").alias("n_shared"))
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        F.col("n_shared").cast("long").alias("n_shared"),
        fin(F.col("n_shared").cast("double") / F.col("n_spans").cast("double"), 6)
          .alias("shared_ratio"),
    ).orderBy("doc_id")


def _minhash_oracle(source: str, extra_where: str = "") -> str:
    """DuckDB replica of the ENTIRE minhash pipeline with md5 features
    over ``source`` (a subquery yielding (doc_id, text)): same
    trim/lower/split tokenizer, same 3-gram shingles, same hex->int
    feature hash, the same seeded universal-hash coefficients
    (minhash_coefficients — interpolated as literals), the same
    per-(band, signature) membership cap, and the same exact-Jaccard
    rescore. Any drift anywhere in the lattice flips the hash."""
    from jobhouse_spark.operators.similarity import (  # noqa: PLC0415
        _MINHASH_PRIME,
        minhash_coefficients,
    )

    from jobhouse_spark.functions.hashing import MD5_INT32_SQL  # noqa: PLC0415

    _MD5I = MD5_INT32_SQL.format(x="s")
    bands = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(minhash_coefficients(42, 5))
    )
    return rf"""
WITH toked AS (
  SELECT doc_id AS doc,
         string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM ({source})),
sh AS (
  SELECT doc, list_distinct(list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM toked WHERE len(toks) >= 3),
feats AS (
  SELECT doc, list_distinct(list_transform(shingles, s ->
           {_MD5I} % 65536)) AS features
  FROM sh),
sigs AS (
  SELECT doc, band_idx,
         list_min(list_transform(features, f ->
           (a * (f % {_MINHASH_PRIME}) + b) % {_MINHASH_PRIME})) AS sig
  FROM feats CROSS JOIN (VALUES {bands}) bands(band_idx, a, b)),
capped AS (
  SELECT doc, band_idx, sig,
         row_number() OVER (PARTITION BY band_idx, sig ORDER BY doc) AS bn
  FROM sigs),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM (SELECT * FROM capped WHERE bn <= 500) a
  JOIN (SELECT * FROM capped WHERE bn <= 500) b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc < b.doc),
scored AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
           / len(list_distinct(list_concat(fa.features, fb.features))) AS sim
  FROM cand
  JOIN feats fa ON fa.doc = cand.doc_a
  JOIN feats fb ON fb.doc = cand.doc_b)
SELECT doc_a, doc_b, 1.0 - sim AS jaccard_dist
FROM scored WHERE sim >= 0.4{extra_where} ORDER BY doc_a, doc_b
"""


@register(
    "l2c_minhash_checked",
    oracle=_minhash_oracle("SELECT doc_id, text FROM documents WHERE doc_id < 400"),
    tags=("llm", "similarity", "dedup"),
)
def l2c_minhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2c: the MinHash-LSH near-dup pipeline, differentially verified
    END-TO-END — the same operator as l2 (shingle -> minhash band ->
    capped bucket join -> exact Jaccard) with the feature hash switched
    from xxhash64 to an md5-derived int both engines compute
    bit-identically. l2 keeps xxhash64 on the production path (faster);
    this entry proves the ALGORITHM: tokenization, banding, the seeded
    coefficient stream, bucket caps, candidate generation, and the
    Jaccard rescore all hash-match a from-scratch DuckDB replica."""
    from jobhouse_spark.operators.similarity import minhash_near_duplicates  # noqa: PLC0415

    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 400)
    return minhash_near_duplicates(
        docs, jaccard_threshold=0.4, feature_hash="md5"
    ).orderBy("doc_a", "doc_b")


_L2D_SURVIVORS_SQL = """
SELECT doc_id, text FROM (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id < 400)
WHERE rn = 1
"""


@register(
    "l2d_dedup_then_minhash",
    oracle=_minhash_oracle(_L2D_SURVIVORS_SQL),
    tags=("llm", "similarity", "dedup"),
)
def l2d_dedup_then_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d: the PRODUCTION dedup composition — L1 exact dedup first
    (content-hash survivor election, one fixed-width-key shuffle), then
    MinHash-LSH near-dup over the survivors only. This is the shape
    SCALE.md prescribes for replicated corpora: exact copies collapse
    in the cheap hash pass, so band buckets hold only genuinely-near
    documents and the pair output stops growing quadratically with the
    replication factor (measured at 10x in SCALE.md). Differentially
    verified end-to-end with the md5 feature hash, composing the l1 and
    l2c oracles."""
    from jobhouse_spark.operators.similarity import minhash_near_duplicates  # noqa: PLC0415

    docs = Tables(spark, sf_dir).documents.filter(F.col("doc_id") < 400)
    survivors = exact_dedup_by_content(docs, "text", "doc_id").select("doc_id", "text")
    return minhash_near_duplicates(
        survivors, jaccard_threshold=0.4, feature_hash="md5"
    ).orderBy("doc_a", "doc_b")


@register(
    "l2e_incremental_minhash",
    oracle=_minhash_oracle(
        "SELECT doc_id, text FROM documents WHERE doc_id < 400",
        extra_where=" AND (doc_a >= 300 OR doc_b >= 300)",
    ),
    tags=("llm", "similarity", "dedup"),
)
def l2e_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2e: INCREMENTAL near-dup dedup — a new batch (doc_id 300-399)
    matched against a STORED LSH index of the corpus (doc_id < 300)
    without re-featurizing the indexed side. The index (band signatures
    + feature sets, minhash_index) round-trips through parquet exactly
    as a production pipeline stores it; only the batch tokenizes.
    Differentially verified against the FULL-recompute oracle restricted
    to pairs involving a new doc — proving the equivalence contract of
    minhash_incremental_pairs end-to-end (cap-over-union semantics
    included), with md5 features both engines compute identically."""
    import os  # noqa: PLC0415

    from jobhouse_spark.operators.similarity import (  # noqa: PLC0415
        minhash_incremental_pairs,
        minhash_index,
    )

    d = Tables(spark, sf_dir).documents
    index_docs = d.filter(F.col("doc_id") < 300)
    batch = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))

    sigs, feats = minhash_index(index_docs, feature_hash="md5")
    # a fresh dir per call: two concurrent drivers over the same sf_dir
    # never share (and clobber) the index mid-read
    root = scratch_dir("l2e")
    sigs.write.mode("overwrite").parquet(os.path.join(root, "sigs"))
    feats.write.mode("overwrite").parquet(os.path.join(root, "feats"))
    stored_sigs = spark.read.parquet(os.path.join(root, "sigs"))
    stored_feats = spark.read.parquet(os.path.join(root, "feats"))

    return minhash_incremental_pairs(
        batch, stored_sigs, stored_feats, jaccard_threshold=0.4, feature_hash="md5"
    ).orderBy("doc_a", "doc_b")
