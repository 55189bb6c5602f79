"""Statistics / governance / text-metrics query tier (SURVEY.md §2.12,
rounds 13-15) — sketches, readability, PII governance, layout audits,
drift, robust statistics, lexical diversity, and the container-metadata
probes added alongside them.

Split out of ``registry_llm.py`` (round-14 verdict item 9 — that module
had reached the 8 k-line ceiling).  Same ``@register`` decorator, same
``QUERIES``/``ORACLES`` dicts: importing ``apache_nifi_spark.registry``
pulls this module in at the end of its body, so every query name keeps
resolving through the registry exactly as before.  The determinism
rules are documented in the registry module docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_nifi_spark import io
from apache_nifi_spark.functions import exact
from apache_nifi_spark.registry import (
    ORACLES,
    QUERIES,
    _davg,
    _dsum,
    _t,
    register,
)

# =====================================================================
# Round 13: dense HyperLogLog (value-oracled), readability scoring,
# Luhn PII validation, Z-order layout, corpus drift (§2.12 additions)
# =====================================================================

@register(
    "sketch_hyperloglog_dense",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events
    ), parts AS (
      SELECT event_type, hv % 512 AS bucket, hv // 512 AS w FROM h
    ), regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN 44
                      ELSE 44 - length(bin(w)) END) AS reg
      FROM parts GROUP BY 1, 2
    ), sk AS (
      SELECT event_type,
             CAST(512 - COUNT(*) AS BIGINT) AS v_zero,
             CAST(SUM(1::BIGINT << (44 - reg))
                  + (512 - COUNT(*)) * (1::BIGINT << 44) AS BIGINT)
               AS s_scaled
      FROM regs GROUP BY 1
    )
    SELECT event_type, v_zero, s_scaled,
           round(CASE
             WHEN (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                    + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE)))
                  * CAST(4611686018427387904 AS DOUBLE)
                  / CAST(s_scaled AS DOUBLE) <= 1280.0
                  AND v_zero > 0
             THEN CAST(512.0 AS DOUBLE)
                  * ln(CAST(512.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
             ELSE (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
                    + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE)))
                  * CAST(4611686018427387904 AS DOUBLE)
                  / CAST(s_scaled AS DOUBLE)
           END, 6) AS estimate
    FROM sk
    """,
)
def sketch_hyperloglog_dense_q(spark, sf_dir):
    """DENSE HyperLogLog, value-oracled (§2.5/§2.12 sketch tier — the
    upgrade over the engine-native approx_count_distinct this repo
    replaced with KMV in round 2: engine HLLs differ in hash and bias
    table, so they can never value-oracle; THIS one builds the
    registers from explicit md5-derived 52-bit hashes, so both engines
    compute the identical sketch, Flajolet et al. 2007 estimator and
    all).  bucket = h mod 2⁹, rho = leading-zero rank of the remaining
    43 bits (via length(bin(w)) — exact integer algebra, no float
    log2); the harmonic mean is accumulated in SCALED INTEGERS
    (Σ 2^(44−reg) ≤ 2⁵², exact in bigint — a double Σ2^−reg would be
    partition-order-dependent), and only the final division and the
    linear-counting ln are floats, under the repo's 6-dp policy.

    Scale shape: one map-side-combined agg to (group, bucket) grain
    (≤ 512 rows per group), one agg to group grain — the register
    table IS the mergeable sketch state, so shards union by max(reg).
    Columns: (event_type, v_zero, s_scaled, estimate) — the two
    integer sketch fields make the oracle match bit-exact, not just
    estimate-close."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    parts = ev.select(
        "event_type",
        (h % 512).alias("bucket"),
        F.shiftrightunsigned(h, 9).alias("w"),
    )
    rho = F.when(F.col("w") == 0, 44).otherwise(
        F.lit(44) - F.length(F.bin("w"))
    )
    regs = parts.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("reg")
    )
    # 2^(44-reg) via a 45-entry literal power table (F.shiftleft takes
    # only a Python-int shift — llm/bloom.py precedent)
    pow2 = F.array(*[F.lit(1 << k).cast("long") for k in range(45)])
    term = F.element_at(pow2, (F.lit(44) - F.col("reg")) + 1)
    sk = regs.groupBy("event_type").agg(
        (F.lit(512) - F.count(F.lit(1))).cast("bigint").alias("v_zero"),
        (
            F.sum(term)
            + (F.lit(512) - F.count(F.lit(1))) * F.lit(1 << 44).cast("long")
        ).cast("bigint").alias("s_scaled"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(512.0))
    # alpha * m^2 * 2^44 = alpha * 2^62 (the scale factor restoring the
    # integer accumulator to Σ 2^-reg)
    raw = alpha * F.lit(float(1 << 62)) / F.col("s_scaled").cast("double")
    est = F.when(
        (raw <= 1280.0) & (F.col("v_zero") > 0),
        F.lit(512.0) * F.log(F.lit(512.0) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    return sk.select(
        "event_type", "v_zero", "s_scaled", F.round(est, 6).alias("estimate")
    )


@register(
    "text_readability_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x != '')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x != ''),
                   w -> greatest(1::BIGINT,
                                 len(regexp_extract_all(w, '[aeiouy]+'))))),
               (a, b) -> a + b) AS n_syllables
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(n_sentences AS INT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(CAST(0.39 AS DOUBLE) * n_words / n_sentences
                 + CAST(11.8 AS DOUBLE) * n_syllables / n_words
                 - CAST(15.59 AS DOUBLE), 6) AS fk_grade,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE) * n_words / n_sentences
                 - CAST(84.6 AS DOUBLE) * n_syllables / n_words, 6)
             AS flesch_ease
    FROM t WHERE n_words > 0
    """,
)
def text_readability_scores_q(spark, sf_dir):
    """Flesch-Kincaid readability scoring (§2.12 quality tier — the
    classic document-difficulty signal a curation pipeline uses
    alongside gopher_quality_rules for audience bucketing): words =
    whitespace tokens, sentences = terminal-punctuation runs (min 1),
    syllables = per-word vowel-group count clamped to ≥ 1 (the
    standard dictionary-free heuristic).  All three counts are exact
    integer algebra inside whole-stage codegen (split /
    regexp_extract_all / a clamped aggregate fold — no UDF, no
    shuffle); the two grade formulas are double arithmetic on
    identical operands, rounded 6 dp at the edge.  Map-only at any
    scale: the heaviest cost is the regex scan itself."""
    t = F.col("text")
    words = F.filter(F.split(t, r"\s+", -1), lambda x: x != "")
    n_words = F.size(words)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0))
    )
    lwords = F.filter(F.split(F.lower(t), r"\s+", -1), lambda x: x != "")
    n_syl = F.aggregate(
        lwords,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1).cast("bigint"),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0))
            .cast("bigint"),
        ),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return d.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
    )


@register(
    "pii_luhn_validate",
    oracle="""
    WITH cand AS (
      SELECT event_id,
             '4' || lpad(CAST((user_id * 7919 + event_id) % 100000000000000
                              AS VARCHAR), 14, '0') AS cc
      FROM events WHERE event_id < 4000
    ), summed AS (
      SELECT event_id, cc,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(range(1, 16), i -> CASE
                   WHEN (15 - i) % 2 = 1
                   THEN CASE WHEN CAST(substr(cc, i, 1) AS BIGINT) * 2 > 9
                             THEN CAST(substr(cc, i, 1) AS BIGINT) * 2 - 9
                             ELSE CAST(substr(cc, i, 1) AS BIGINT) * 2 END
                   ELSE CAST(substr(cc, i, 1) AS BIGINT) END)),
               (a, b) -> a + b) AS luhn_sum
      FROM cand
    )
    SELECT event_id, cc, luhn_sum % 10 = 0 AS luhn_valid
    FROM summed
    """,
)
def pii_luhn_validate_q(spark, sf_dir):
    """Luhn checksum validation (§2.12 PII tier — the false-positive
    killer for the card-number patterns ``pii_redact`` flags: a
    16-digit run is only a REAL card number if its Luhn check passes,
    which cuts redaction noise by ~90% on digit-dense corpora).
    Candidates here are deterministic synthetic 15-digit numbers from
    the fixture (the validator is the operator; in production it runs
    on ``regexp_extract_all`` hits).  The checksum is pure integer
    algebra — a fold over the digit positions doubling every second
    digit from the right (ISO/IEC 7812) — fully inside whole-stage
    codegen, no UDF, map-only at any scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    cc = F.concat(
        F.lit("4"),
        F.lpad(
            ((F.col("user_id") * 7919 + F.col("event_id"))
             % 100000000000000).cast("string"),
            14, "0",
        ),
    )
    d = ev.select("event_id", cc.alias("cc"))
    digit = lambda i: F.substring(F.col("cc"), i, 1).cast("bigint")

    def term(i):
        dd = digit(i) * 2
        return F.when(
            F.lit((15 - i) % 2 == 1),
            F.when(dd > 9, dd - 9).otherwise(dd),
        ).otherwise(digit(i))

    luhn_sum = sum((term(i) for i in range(2, 16)), term(1))
    return d.select(
        "event_id", "cc", (luhn_sum % 10 == 0).alias("luhn_valid")
    )


@register(
    "layout_zorder_buckets",
    oracle="""
    WITH xy AS (
      SELECT l_orderkey % 256 AS x, l_partkey % 256 AS y
      FROM lineitem
    ), sp AS (
      SELECT x, y,
             ((x | (x << 8)) & 16711935) AS x1,
             ((y | (y << 8)) & 16711935) AS y1
      FROM xy
    ), sp2 AS (
      SELECT x, y,
             ((x1 | (x1 << 4)) & 252645135) AS x2,
             ((y1 | (y1 << 4)) & 252645135) AS y2
      FROM sp
    ), sp3 AS (
      SELECT x, y,
             ((x2 | (x2 << 2)) & 858993459) AS x3,
             ((y2 | (y2 << 2)) & 858993459) AS y3
      FROM sp2
    ), z AS (
      SELECT x, y,
             (((x3 | (x3 << 1)) & 1431655765)
              | ((((y3 | (y3 << 1)) & 1431655765)) << 1)) AS zval
      FROM sp3
    )
    SELECT zval // 2048 AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max,
           CAST(MAX(x) - MIN(x) AS BIGINT) * (MAX(y) - MIN(y)) AS bbox_area
    FROM z GROUP BY 1
    """,
)
def layout_zorder_buckets_q(spark, sf_dir):
    """Z-ORDER layout optimization (§2.12 storage-layout tier — the
    Delta OPTIMIZE ZORDER / Iceberg sort-order workload): interleave
    the bits of two join/filter dimensions into one Morton code, range-
    bucket by it, and report each bucket's bounding box in BOTH
    dimensions.  A z-ordered file layout gives every file a tight
    min/max range on EVERY z-ordered column simultaneously — which is
    what makes parquet footer-stats skipping (see
    parquet_footer_stats_audit) effective on multi-column predicates;
    a linear sort only bounds its leading column.

    The bit-spread is the classic magic-mask ladder (x|(x<<8)&…, four
    rounds), exact bigint algebra in both engines — no UDF, no float.
    Shape: map + ONE agg to the 32 z-bucket rows; at production scale
    the same zval feeds ``repartitionByRange`` as the write
    clustering key, and the bbox_area column is the audit metric
    (Σ area ≪ global area = locality achieved)."""
    xy = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 256).alias("x"),
        (F.col("l_partkey") % 256).alias("y"),
    )

    def spread(c):
        # Column `|`/`&` are LOGICAL in PySpark — bit ops are methods
        c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(16711935))
        c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(252645135))
        c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(858993459))
        c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(1431655765))
        return c

    z = xy.select(
        "x", "y",
        spread(F.col("x"))
        .bitwiseOR(F.shiftleft(spread(F.col("y")), 1))
        .alias("zval"),
    )
    return (
        z.groupBy(F.floor(F.col("zval") / 2048).cast("bigint")
                  .alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x_min"), F.max("x").alias("x_max"),
            F.min("y").alias("y_min"), F.max("y").alias("y_max"),
            ((F.max("x") - F.min("x")).cast("bigint")
             * (F.max("y") - F.min("y"))).alias("bbox_area"),
        )
    )


@register(
    "corpus_drift_kl",
    oracle="""
    WITH a AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS ca
      FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ), b AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS cb
      FROM events WHERE user_id % 2 = 1 GROUP BY 1
    ), j AS (
      SELECT a.event_type,
             ca / (SELECT SUM(ca) FROM a) AS p,
             cb / (SELECT SUM(cb) FROM b) AS q
      FROM a JOIN b USING (event_type)
    )
    SELECT event_type,
           round(p, 6) AS p,
           round(q, 6) AS q,
           round(p * ln(p / q), 6) AS kl_term,
           round(abs(p - q) / 2, 6) AS tv_term
    FROM j
    """,
)
def corpus_drift_kl_q(spark, sf_dir):
    """Corpus COMPOSITION DRIFT report (§2.12 corpus-analysis tier —
    the between-snapshot health check a pretraining pipeline runs
    before committing a refreshed crawl: per-category KL-divergence
    and total-variation contributions between two cohorts).  Cohorts
    here are the user_id parity halves; in production they are
    "yesterday's corpus" vs "today's".  Per-type output (KL/TV terms)
    rather than the scalar Σ so the report NAMES the drifting
    categories — and so the only floats are one division and one ln
    per type (6 dp policy), never a partition-order-dependent double
    sum.  Shape: two map-side-combined aggs + a tiny type-grain join;
    the 1-row totals ride as scalar subqueries/window sums, bounded by
    construction."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    a = (
        ev.filter(F.col("user_id") % 2 == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("ca"))
    )
    b = (
        ev.filter(F.col("user_id") % 2 == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("cb"))
    )
    w = Window.partitionBy(F.lit(1))
    j = (
        a.join(b, "event_type")
        .select(
            "event_type",
            (F.col("ca") / F.sum("ca").over(w)).alias("p"),
            (F.col("cb") / F.sum("cb").over(w)).alias("q"),
        )
    )
    return j.select(
        "event_type",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round(F.col("p") * F.log(F.col("p") / F.col("q")), 6)
        .alias("kl_term"),
        F.round(F.abs(F.col("p") - F.col("q")) / 2, 6).alias("tv_term"),
    )


@register(
    "dedup_prefix_filter_jaccard",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(
               list_filter(regexp_split_to_array(lower(text),
                                                 '[^a-z0-9'']+'),
                           x -> x != '')) AS token
      FROM documents WHERE doc_id < 200
    ), df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS dfc FROM tok GROUP BY 1
    ), docs AS (
      SELECT doc_id,
             list_sort(list({'d': dfc, 't': tok.token})) AS ordered,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tok JOIN df USING (token) GROUP BY doc_id
    ), pref AS (
      SELECT doc_id, n,
             list_transform(ordered[1:CAST(n - (4 * n + 4) // 5 + 1 AS INT)],
                            s -> s.t) AS prefix,
             list_transform(ordered, s -> s.t) AS toks
      FROM docs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT doc_id, unnest(prefix) AS p FROM pref) a
      JOIN (SELECT doc_id, unnest(prefix) AS p FROM pref) b
        ON a.p = b.p AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(x.toks, y.toks)) AS BIGINT) AS inter,
             x.n AS na, y.n AS nb
      FROM cand
      JOIN pref x ON x.doc_id = doc_a
      JOIN pref y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b, inter,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM verified WHERE 9 * inter >= 4 * (na + nb)
    """,
)
def dedup_prefix_filter_jaccard_q(spark, sf_dir):
    """PREFIX-FILTERED exact-Jaccard similarity join (PPJoin family,
    Xiao et al. 2011 — the EXACT complement to dedup_minhash_lsh's
    probabilistic blocking, §2.12 dedup tier): order each document's
    distinct tokens rarest-first (global df, token tiebreak), keep
    only the first ``n − ⌈t·n⌉ + 1`` as its PREFIX (t = 0.8) — two
    sets with Jaccard ≥ t MUST share a prefix token (pigeonhole on the
    ordered universe), so candidates generate from prefix buckets whose
    sizes the rarest-first order keeps small — then verify candidates
    with the exact intersection.  No pair outside a shared-rare-token
    bucket is ever formed; recall is exactly 1 by the filter theorem.

    Determinism: the t=0.8 threshold verifies as the INTEGER test
    ``9·inter ≥ 4·(na+nb)`` (inter ≥ t·union rearranged — no float
    compare anywhere); the reported jaccard is one correctly-rounded
    division.  Shape: tokenize → two map-side-combined aggs (df, per-
    doc ordered arrays) → prefix explode → in-bucket candidate join →
    verification joins at candidate grain.  At 100 TB the bucket join
    IS the LSH band shape with exact guarantees; the known hazard is
    a low-df token misestimated hot — production adds a df cap with
    the dropped tokens routed to a MinHash fallback tier."""
    d = io.widen_if_narrow(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"[^a-z0-9']+", -1),
                    lambda t: t != "",
                )
            )
        ).alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfc"))
    docs = (
        tok.join(dfreq, "token")  # un-hinted: vocab grain, AQE decides
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dfc").alias("d"),
                                        F.col("token").alias("t")))
            ).alias("ordered"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    plen = (
        F.col("n") - ((4 * F.col("n") + 4) / 5).cast("bigint") + 1
    ).cast("int")
    pref = docs.select(
        "doc_id",
        "n",
        F.transform(
            F.slice(F.col("ordered"), F.lit(1), plen), lambda s: s["t"]
        ).alias("prefix"),
        F.transform(F.col("ordered"), lambda s: s["t"]).alias("toks"),
    ).localCheckpoint(eager=False)  # three consumers: buckets + 2 verify joins
    buckets = (
        pref.select("doc_id", F.explode("prefix").alias("p"))
        .groupBy("p")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ds") - 1),
                        lambda i: F.transform(
                            F.slice(F.col("ds"), i + 1, F.size("ds")),
                            lambda d2: F.struct(
                                F.element_at(F.col("ds"), i).alias("a"),
                                d2.alias("b"),
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select(F.col("pr.a").alias("doc_a"), F.col("pr.b").alias("doc_b"))
        .distinct()
    )
    x = pref.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("xt"), F.col("n").alias("na"),
    )
    y = pref.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("yt"), F.col("n").alias("nb"),
    )
    v = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a", "doc_b", "na", "nb",
            F.size(F.array_intersect("xt", "yt")).cast("bigint")
            .alias("inter"),
        )
        .filter(9 * F.col("inter") >= 4 * (F.col("na") + F.col("nb")))
    )
    return v.select(
        "doc_a", "doc_b", "inter",
        F.round(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            6,
        ).alias("jaccard"),
    )


@register(
    "stream_delta_append_commits",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
    """,
)
def stream_delta_append_commits_q(spark, sf_dir):
    """STREAMING writer into the Delta-protocol table (§2.11 × §2.12
    lakehouse seam — the foreachBatch upsert/append pattern every
    production Spark-to-lakehouse pipeline uses): the purchase stream
    drains availableNow, each micro-batch lands as parquet data files
    PLUS one atomic ``_delta_log`` JSON commit (sources/deltalog), with
    EXACTLY-ONCE via batch-id-keyed commit versions — a replayed batch
    sees its commit file already present and skips, the same
    idempotent-sink contract as the JDBC __batch_id delete.  The
    returned frame is a fresh ``read_delta_snapshot`` of the table —
    equality with the batch oracle proves the log replay reconstructs
    exactly what the stream wrote."""
    import glob
    import os as _os

    from apache_nifi_spark.sources.deltalog import (
        read_delta_snapshot,
        write_commit,
    )
    from apache_nifi_spark.streaming import drain, stream_events

    root = io.scratch("anspark_stream_delta_")
    sdf = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint")
            .alias("cents"),
        )
    )

    def write_batch(bdf, bid):
        version = int(bid) + 1
        commit = _os.path.join(root, "_delta_log", f"{version:020d}.json")
        if _os.path.exists(commit):
            return  # replayed batch: commit already durable — exactly-once
        sub = f"batch-{int(bid)}"
        bdf.write.mode("overwrite").parquet(_os.path.join(root, sub))
        actions = [
            {
                "add": {
                    "path": _os.path.join(sub, _os.path.basename(p)),
                    "size": _os.path.getsize(p),
                }
            }
            for p in glob.glob(_os.path.join(root, sub, "part-*.parquet"))
        ]
        write_commit(root, version, actions)

    drain(sdf.writeStream.foreachBatch(write_batch))
    return read_delta_snapshot(spark, root).select(
        "event_id", "user_id", "cents"
    )


@register(
    "reconcile_table_checksums",
    oracle="""
    WITH a AS (
      SELECT o_orderkey % 64 AS bucket,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                    || CAST(CAST(o_totalprice AS DECIMAL(27,2)) AS VARCHAR)),
                    1, 13)) AS BIGINT) % 1000000000 AS h
      FROM orders
    ), b AS (
      SELECT o_orderkey % 64 AS bucket,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                    || CAST(CAST(CASE WHEN o_orderkey % 997 = 0
                                      THEN o_totalprice + 1
                                      ELSE o_totalprice END
                             AS DECIMAL(27,2)) AS VARCHAR)),
                    1, 13)) AS BIGINT) % 1000000000 AS h
      FROM orders
    ), ca AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(SUM(h) AS BIGINT) AS sum_a
      FROM a GROUP BY 1
    ), cb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(h) AS BIGINT) AS sum_b
      FROM b GROUP BY 1
    )
    SELECT bucket, n_a, n_b, sum_a, sum_b,
           (n_a = n_b AND sum_a = sum_b) AS bucket_matches
    FROM ca JOIN cb USING (bucket)
    """,
)
def reconcile_table_checksums_q(spark, sf_dir):
    """Bucketed CHECKSUM RECONCILIATION (§2.12 migration/validation
    tier — the anti-entropy pass that validates a table copy or a
    replication stream without moving the data: per-bucket row-hash
    sums on both sides, only differing buckets need row-level diff).
    Side B here is the fixture with a deterministic perturbation
    (every 997th order's price +1), so exactly the buckets containing
    a perturbed key report a checksum break while their row COUNTS
    still match — the failure mode a count-only validator misses.

    Determinism: row hash = md5 of the canonical key|value rendering,
    folded mod 10⁹ so 64-bucket bigint sums stay exact at any SF (no
    overflow, no float).  Shape: two scans, two map-side-combined
    aggs to 64 rows, one tiny join — data never crosses the wire, the
    checksums do.  At 100 TB this is THE way to compare tables."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    def side(price_col):
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("o_orderkey").cast("string"),
                            price_col.cast("decimal(27,2)").cast("string"),
                        )
                    ),
                    1, 13,
                ),
                16, 10,
            ).cast("bigint") % 1000000000
        )
        return o.select(
            (F.col("o_orderkey") % 64).alias("bucket"), h.alias("h")
        ).groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
        )
    a = side(F.col("o_totalprice"))
    b = side(
        F.when(F.col("o_orderkey") % 997 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
    )
    return (
        a.select("bucket", F.col("n").alias("n_a"), F.col("s").alias("sum_a"))
        .join(
            b.select("bucket", F.col("n").alias("n_b"),
                     F.col("s").alias("sum_b")),
            "bucket",
        )
        .select(
            "bucket", "n_a", "n_b", "sum_a", "sum_b",
            ((F.col("n_a") == F.col("n_b"))
             & (F.col("sum_a") == F.col("sum_b"))).alias("bucket_matches"),
        )
    )


@register(
    "fuzzy_dedup_levenshtein",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 1) AS blk,
             length(p_name) AS ln
      FROM part WHERE p_partkey < 1000
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.ln = b.ln AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_dedup_levenshtein_q(spark, sf_dir):
    """BLOCKED edit-distance fuzzy matching (§2.12 entity-resolution
    tier — the catalog/name-dedup workload: near-identical product
    names that exact dedup misses): candidates block on (first token,
    exact length) — both cheap blocking keys that bound block sizes —
    then verify with ``levenshtein ≤ 2``.  Both engines implement the
    classic unit-cost Wagner-Fischer DP, so the distance is an exact
    integer, no portability caveat.  Shape: one self-equi-join ON the
    block keys (hash join, never cartesian — the cartesian gate
    covers it), distance evaluated only inside blocks.  At 100 TB the
    blocking keys ARE the shuffle keys; skew = a hot first token,
    handled by the standard salt-on-hot-blocks pattern."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000).select(
        "p_partkey", "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
        F.length("p_name").alias("ln"),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"),
        "blk", "ln",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"),
        "blk", "ln",
    )
    return (
        a.join(b, ["blk", "ln"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a", "key_b", "name_a", "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "stats_ewma_per_user",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
           round(list_reduce(vs,
                  (a, b) -> CAST(0.3 AS DOUBLE) * b
                            + CAST(0.7 AS DOUBLE) * a), 6) AS ewma
    FROM ordered
    """,
)
def stats_ewma_per_user_q(spark, sf_dir):
    """Per-key EWMA (§2.12 event-analytics tier — the smoothed-signal
    primitive behind rate monitoring and anomaly baselines):
    exponentially weighted moving average α=0.3 over each user's
    time-ordered values.  An EWMA is an ORDER-DEPENDENT float fold, so
    determinism comes from folding an explicitly (ts, event_id)-sorted
    list left-to-right — both engines then execute the identical
    sequence of correctly-rounded IEEE ops (the rake_keywords
    position-fold convention), 6 dp at the edge.  Shape: one groupBy
    collecting per-user (bounded) event lists, fold in the projection
    — one shuffle, no window, no UDF."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ordered = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ),
            lambda s: s["value"],
        ).alias("vs")
    )
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, v: F.lit(0.3) * v + F.lit(0.7) * acc,
    )
    return ordered.select(
        "user_id",
        F.size("vs").cast("bigint").alias("n_events"),
        F.round(fold, 6).alias("ewma"),
    )


@register(
    "text_kneser_ney_logprob",
    oracle=r"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
                         x -> x != '') AS t
      FROM documents WHERE doc_id < 400
    ),
    stream AS MATERIALIZED (
      SELECT doc_id, i AS pos, t[i] AS cur,
             CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    bi AS MATERIALIZED (
      SELECT prev AS bp, cur AS bc, CAST(COUNT(*) AS BIGINT) AS cb
      FROM stream GROUP BY prev, cur
    ),
    hist AS (
      SELECT bp, CAST(SUM(cb) AS BIGINT) AS cp,
             CAST(COUNT(*) AS BIGINT) AS n1h
      FROM bi GROUP BY bp
    ),
    cont AS (
      SELECT bc, CAST(COUNT(*) AS BIGINT) AS nw FROM bi GROUP BY bc
    ),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bi)
    SELECT st.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(SUM(ln(
             greatest(CAST(bi.cb AS DOUBLE) - 0.75, 0.0)
               / CAST(hist.cp AS DOUBLE)
             + (0.75 * CAST(hist.n1h AS DOUBLE)) / CAST(hist.cp AS DOUBLE)
               * (CAST(cont.nw AS DOUBLE) / CAST(btot.b AS DOUBLE))
           )) / COUNT(*), 6) AS mean_logprob,
           round(exp(-SUM(ln(
             greatest(CAST(bi.cb AS DOUBLE) - 0.75, 0.0)
               / CAST(hist.cp AS DOUBLE)
             + (0.75 * CAST(hist.n1h AS DOUBLE)) / CAST(hist.cp AS DOUBLE)
               * (CAST(cont.nw AS DOUBLE) / CAST(btot.b AS DOUBLE))
           )) / COUNT(*)), 6) AS ppl
    FROM stream st
    JOIN bi   ON bi.bp = st.prev AND bi.bc = st.cur
    JOIN hist ON hist.bp = st.prev
    JOIN cont ON cont.bc = st.cur, btot
    GROUP BY st.doc_id
    """,
)
def text_kneser_ney_logprob_q(spark, sf_dir):
    """Interpolated KNESER-NEY bigram scoring (§2.12 quality tier — the
    top rung of this repo's KenLM ladder, above Jelinek-Mercer
    text_bigram_logprob: KN's continuation probability
    ``p_cont(w) = |{h: c(hw)>0}| / |bigram types|`` famously fixes the
    'san FRANCISCO' pathology where raw unigram frequency overrates
    words that only ever follow one context):

        p(w|h) = max(c(hw) − d, 0)/c(h·)
                 + d·N₁₊(h·)/c(h·) · p_cont(w),    d = 0.75

    Every position has a history — a ``<s>`` sentinel precedes each
    document's first token (so continuation counts are never zero and
    the <s> row carries the doc-start distribution, the textbook
    construction).  All counts are exact integers; d·N₁₊ is an exact
    dyadic product; the per-position log is one identically-shaped
    float expression in both engines; doc means round 6 dp (the
    unigram/bigram policy).  Shape: columnar (prev,cur) stream (no
    window), THE bigram table feeds all three count tables (history
    totals, continuation counts, type total — no second corpus pass),
    scoring joins are un-hinted token-grain (AQE broadcasts while
    small), one agg back to doc grain."""
    from pyspark.sql import functions as _F

    toks = io.widen_if_narrow(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
    ).select(
        "doc_id",
        _F.filter(
            _F.split(_F.lower(_F.col("text")), r"[^a-z0-9']+", -1),
            lambda t: t != "",
        ).alias("t"),
    )
    stream = (
        toks.select(
            "doc_id",
            _F.explode(
                _F.expr(
                    "transform(t, (x, i) -> struct("
                    "i + 1 as pos, x as cur,"
                    " case when i = 0 then '<s>'"
                    " else element_at(t, i) end as prev))"
                )
            ).alias("u"),
        )
        .select("doc_id", "u.pos", "u.cur", "u.prev")
        .localCheckpoint(eager=False)  # two consumers: training + scoring
    )
    bi = (
        stream.groupBy(_F.col("prev").alias("bp"), _F.col("cur").alias("bc"))
        .agg(_F.count(_F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)  # four consumers below
    )
    hist = bi.groupBy(_F.col("bp").alias("hp")).agg(
        _F.sum("cb").alias("cp"), _F.count(_F.lit(1)).alias("n1h")
    )
    cont = bi.groupBy(_F.col("bc").alias("cw")).agg(
        _F.count(_F.lit(1)).alias("nw")
    )
    btot = bi.agg(_F.count(_F.lit(1)).alias("b"))
    scored = (
        stream.join(bi, (stream["prev"] == bi["bp"]) & (stream["cur"] == bi["bc"]))
        .join(hist, stream["prev"] == _F.col("hp"))
        .join(cont, stream["cur"] == _F.col("cw"))
        .crossJoin(btot)
    )
    lp = _F.log(
        _F.greatest(_F.col("cb").cast("double") - 0.75, _F.lit(0.0))
        / _F.col("cp").cast("double")
        + (_F.lit(0.75) * _F.col("n1h").cast("double"))
        / _F.col("cp").cast("double")
        * (_F.col("nw").cast("double") / _F.col("b").cast("double"))
    )
    return (
        scored.select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            _F.count(_F.lit(1)).alias("n_tokens"),
            _F.round(_F.sum("lp") / _F.count(_F.lit(1)), 6)
            .alias("mean_logprob"),
            _F.round(_F.exp(-_F.sum("lp") / _F.count(_F.lit(1))), 6)
            .alias("ppl"),
        )
    )


@register(
    "table_profile_ndv",
    oracle="""
    WITH stacked AS (
      SELECT col, val FROM (
        SELECT unnest(['o_custkey', 'o_orderstatus', 'o_orderpriority',
                       'o_orderdate']) AS col,
               unnest([CAST(o_custkey AS VARCHAR), o_orderstatus,
                       o_orderpriority, CAST(o_orderdate AS VARCHAR)])
                 AS val
        FROM orders
      )
    ), hashed AS (
      SELECT DISTINCT col,
             CAST(('0x' || substr(md5(val), 1, 13)) AS BIGINT) AS h
      FROM stacked
    ), ranked AS (
      SELECT col, h, row_number() OVER (PARTITION BY col ORDER BY h) AS rn
      FROM hashed
    ), sk AS (
      SELECT col, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth
      FROM ranked WHERE rn <= 64 GROUP BY col
    )
    SELECT col, n_kept,
           round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                 ELSE CAST(63 AS DOUBLE)
                      / (CAST(kth AS DOUBLE) / 4503599627370496.0)
                 END, 6) AS ndv_estimate
    FROM sk
    """,
)
def table_profile_ndv_q(spark, sf_dir):
    """Per-column NDV PROFILE (§2.12 catalog/ANALYZE tier — the
    statistics pass a query optimizer or layout planner runs before
    choosing join orders and bucketing: one deterministic KMV sketch
    PER COLUMN from a single table scan).  Columns stack to
    (column, value) grain via one literal-array explode — the scan
    happens once regardless of how many columns are profiled — then
    the approx_distinct_users KMV machinery runs per column key
    (distinct md5-hashes, 64 smallest, (k−1)/U₍ₖ₎ estimator, exact
    below k).  Deterministic, so it value-oracles — engine-native
    NDV sketches (HLL variants) never can.  The per-column rank
    window sorts each column's distinct hashes in one task — the
    documented fixture trade; at warehouse scale the k-smallest
    per group comes from a two-pass threshold prune instead."""
    o = _t(spark, sf_dir, "orders")
    stacked = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("o_custkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderdate").alias("col"),
                    F.col("o_orderdate").cast("string").alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.col", "s.val")
    # distinct FIRST on the raw (col, value) pairs, hash after: the
    # md5+conv then runs on ~NDV rows instead of rows x columns
    # (measured sf1: 5.9 s -> the hash was the wall, 6 M evaluations
    # for a 155 k-row distinct set)
    hashed = stacked.distinct().select(
        "col",
        F.conv(F.substring(F.md5("val"), 1, 13), 16, 10)
        .cast("bigint").alias("h"),
    )
    w = Window.partitionBy("col").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("col")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth"))
    )
    est = F.when(
        F.col("n_kept") < 64, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(63.0) / (F.col("kth").cast("double") / F.lit(4503599627370496.0))
    )
    return sk.select(
        "col", "n_kept", F.round(est, 6).alias("ndv_estimate")
    )


@register(
    "stream_delta_upsert_merge",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents_total,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def stream_delta_upsert_merge_q(spark, sf_dir):
    """STREAMING MERGE (upsert) into the Delta-protocol table — the
    foreachBatch copy-on-write pattern production Spark pipelines run
    against lakehouse tables (the writer-depth complement to
    stream_delta_append_commits' blind append): the table holds
    per-user purchase totals partitioned into 8 user-hash buckets; the
    purchase stream drains in MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a 3-file staging of the fixture), and
    each batch

    1. aggregates its rows to (user, delta) grain,
    2. reads the CURRENT snapshot of only the AFFECTED buckets,
    3. merges (full outer on user, totals summed — the MERGE),
    4. rewrites those buckets' data files, and
    5. commits atomically: remove(old bucket files) + add(new) in one
       ``_delta_log`` JSON commit, batch-id-keyed for exactly-once.

    Copy-on-write touches only affected buckets — at production scale
    the bucket count and the hash partitioning bound every batch's
    rewrite to its own keys' files, never the table.  The returned
    frame is a fresh snapshot read; equality with the batch groupBy
    oracle proves the multi-batch remove+add reconciliation converges
    to exactly the batch answer."""
    import glob
    import os as _os

    from apache_nifi_spark.sources.deltalog import (
        _delta_active_rows,
        read_delta_snapshot,
        write_commit,
    )
    from apache_nifi_spark.streaming import drain, stream_events

    # stage the purchase stream as 3 files so the drain is genuinely
    # multi-batch (one file per trigger)
    staged = io.scratch("anspark_updelta_src_")
    (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value", "event_type")
        .repartition(3, "user_id")
        .write.mode("overwrite").parquet(staged)
    )
    root = io.scratch("anspark_updelta_tbl_")

    def write_batch(bdf, bid):
        version = int(bid) + 1
        commit = _os.path.join(root, "_delta_log", f"{version:020d}.json")
        if _os.path.exists(commit):
            return  # replayed batch — exactly-once
        sp = bdf.sparkSession
        delta = bdf.groupBy("user_id").agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("bigint")
            .alias("cents_total"),
            F.count(F.lit(1)).alias("n_purchases"),
        ).withColumn("bucket", (F.col("user_id") % 8).cast("int"))
        affected = sorted(
            r["bucket"] for r in delta.select("bucket").distinct()
            .collect()  # control-plane: <= 8 bucket ids
        )
        removed: list[str] = []
        if version > 1:
            cur_files = [
                r["path"]
                for r in _delta_active_rows(root)
                # control-plane: O(active files) manifest rows, local replay
                if int(r["path"].split("bucket=")[1].split("/")[0])
                in affected
            ]
            removed = cur_files
            if cur_files:
                cur = sp.read.parquet(
                    *[_os.path.join(root, p) for p in cur_files]
                ).withColumn("bucket", (F.col("user_id") % 8).cast("int"))
                delta = (
                    cur.join(delta, ["user_id", "bucket"], "full_outer")
                    .select(
                        "user_id", "bucket",
                        (
                            F.coalesce(cur["cents_total"], F.lit(0))
                            + F.coalesce(delta["cents_total"], F.lit(0))
                        ).alias("cents_total"),
                        (
                            F.coalesce(cur["n_purchases"], F.lit(0))
                            + F.coalesce(delta["n_purchases"], F.lit(0))
                        ).alias("n_purchases"),
                    )
                )
        actions = [{"remove": {"path": p}} for p in removed]
        # ONE write job rewrites every affected bucket (partitionBy
        # lays out bucket=<b>/ dirs; repartition(8, "bucket") puts each
        # bucket wholly in one task → one file per bucket) — the merge
        # plan executes once, not once per bucket.  The exchange is
        # sized to the TABLE's bucket count (8, a table constant — not
        # a core-count tune): the session default left 24 of 32 write
        # tasks empty, each still paying committer setup/commit per
        # micro-batch (r17; measured 0.38–0.54 s/batch → see
        # OPTIMIZATION_r17.md).
        sub = f"v{version}"
        (
            delta.select(
                "user_id", "cents_total", "n_purchases", "bucket"
            )
            .repartition(8, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_os.path.join(root, sub))
        )
        actions.extend(
            {
                "add": {
                    "path": _os.path.relpath(p, root),
                    "size": _os.path.getsize(p),
                }
            }
            for p in sorted(
                glob.glob(
                    _os.path.join(root, sub, "bucket=*", "part-*.parquet")
                )
            )
        )
        write_commit(root, version, actions)

    sdf = stream_events(spark, sf_dir, path=staged, max_files_per_trigger=1)
    drain(sdf.writeStream.foreachBatch(write_batch))
    return read_delta_snapshot(spark, root).select(
        "user_id", "cents_total", "n_purchases"
    )


@register(
    "multimodal_audio_container_meta",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'mp3' END AS format,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 22050
                     ELSE 44100 END
                ELSE CASE (doc_id % 9) // 3 WHEN 0 THEN 44100
                     WHEN 1 THEN 48000 ELSE 32000 END
                END AS INT) AS sample_rate_hz,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 4) // 2
                ELSE 1 + (doc_id % 10) // 5 END AS INT) AS channels,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN CASE WHEN doc_id % 8 < 4 THEN 16 ELSE 24 END
                ELSE 0 END AS INT) AS bits_per_sample,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                ELSE CASE doc_id % 3 WHEN 0 THEN 64 WHEN 1 THEN 128
                     ELSE 320 END END AS INT) AS bitrate_kbps,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1000 + doc_id % 5000
                ELSE 50 + doc_id % 200 END AS BIGINT) AS n_units,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN (1000 + doc_id % 5000) * 1000 //
                     (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 22050
                      ELSE 44100 END)
                ELSE (50 + doc_id % 200) * 1152 * 1000 //
                     (CASE (doc_id % 9) // 3 WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END)
                END AS BIGINT) AS duration_ms
    FROM documents WHERE doc_id < 400
    """,
)
def multimodal_audio_container_meta_q(spark, sf_dir):
    """REAL FLAC + MP3 container metadata decode, value-oracled (§2.12
    multimodal; extends the WAV/MP4/WebM tier to the two remaining
    ubiquitous audio containers): spec-valid payloads are ENCODED
    executor-side — FLAC ``fLaC``+STREAMINFO bit-packing, MPEG-1
    Layer III frame sequences with per-frame alternating padding (so
    the parser must walk genuinely variable-length frames via each
    frame's own header) and, on every fourth id, a leading ID3v2 tag
    with a syncsafe size (proving tag skip) — then decoded back through
    the magic-byte-dispatched container walkers
    (`llm/multimodal.parse_flac_streaminfo` / `parse_mpeg_audio`).
    The oracle recomputes every field arithmetically from the
    generating formulas — a true byte-level round trip.  Arrow-batched
    both sides; map-only at any scale."""
    from apache_nifi_spark.llm import (
        decode_audio_container_meta,
        encode_flac_streaminfo,
        encode_mp3_frames,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def synth(d):
        if d % 2 == 0:
            rate = [8000, 22050, 44100][d % 3]
            yield d, encode_flac_streaminfo(
                rate,
                1 + (d % 4) // 2,
                16 if d % 8 < 4 else 24,
                1000 + d % 5000,
            )
        else:
            kbps = [64, 128, 320][d % 3]
            rate = [44100, 48000, 32000][(d % 9) // 3]
            yield d, encode_mp3_frames(
                kbps,
                rate,
                1 + (d % 10) // 5,
                50 + d % 200,
                id3_size=(d % 100) if d % 4 == 1 else 0,
            )

    audio = io.flat_map(base, ["doc_id"], synth, "doc_id long, content binary")
    return decode_audio_container_meta(audio)


@register(
    "hypertable_m4_downsample",
    oracle="""
    SELECT event_type,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(value) AS DOUBLE) AS vmin,
           CAST(max(value) AS DOUBLE) AS vmax,
           CAST(arg_min(value, epoch_us(ts)) AS DOUBLE) AS vfirst,
           CAST(arg_max(value, epoch_us(ts)) AS DOUBLE) AS vlast
    FROM events GROUP BY 1, 2
    """,
)
def hypertable_m4_downsample_q(spark, sf_dir):
    """M4 time-series downsampling (Jugel et al., VLDB 2014 — the
    error-free line-chart reduction): per (series, pixel-bucket) the
    min, max, FIRST and LAST values — the four points that make a
    rendered line pixel-identical to the full-resolution data.  One
    hash aggregation (min/max/min_by/max_by are all partial-aggregable,
    so map-side combine runs before the shuffle); every output is a
    SELECTION of an input double (zero float arithmetic → bit-exact
    across engines).  first/last order by ``unix_micros(ts)``, unique
    in this dataset (asserted across SFs by the generator contract).
    Scale: output is O(series × buckets) — chart-sized, independent of
    row count; the canonical 100 TB dashboard query."""
    ev = _t(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        ev.select(
            "event_type",
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
                " AS BIGINT)"
            ).alias("bucket"),
            "value",
            micros.alias("_us"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.min_by("value", "_us").alias("vfirst"),
            F.max_by("value", "_us").alias("vlast"),
        )
    )


@register(
    "stats_robust_outliers",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM p
    ), m AS (
      SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN value END)
                  OVER (PARTITION BY user_id) AS med
      FROM r
    ), d AS (
      SELECT *, abs(value - med) AS dev FROM m
    ), r2 AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY dev, event_id) AS rn2
      FROM d
    ), m2 AS (
      SELECT *, max(CASE WHEN rn2 = (cnt + 1) // 2 THEN dev END)
                  OVER (PARTITION BY user_id) AS mad
      FROM r2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(med) AS DOUBLE) AS med,
           CAST(max(mad) AS DOUBLE) AS mad,
           CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM m2 GROUP BY user_id
    """,
)
def stats_robust_outliers_q(spark, sf_dir):
    """Per-key robust outlier flags via EXACT median + MAD (the
    median-absolute-deviation robust z-score — the anomaly filter that
    survives the skewed value distributions where mean/stddev break):
    lower median selected positionally (row_number against
    (count+1)//2 — a SELECTION, no buffer-everything percentile
    aggregate, no global sort), deviations re-ranked the same way for
    the MAD, outlier = dev > 3·MAD.  The only float arithmetic is one
    subtraction/abs and one multiply — identical single IEEE ops in
    both engines, so doubles hash exactly.  Scale: both window passes
    sort WITHIN user-sized groups under one hash partitioning on
    user_id (Catalyst reuses the exchange; groups are bounded by a
    user's activity, never table-sized), then one aggregation — the
    sessionize/EWMA scale shape."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )
    by_user = Window.partitionBy("user_id")
    r = ev.withColumn(
        "rn", F.row_number().over(by_user.orderBy("value", "event_id"))
    ).withColumn("cnt", F.count(F.lit(1)).over(by_user))
    target = F.floor((F.col("cnt") + 1) / 2)
    m = r.withColumn(
        "med",
        F.max(F.when(F.col("rn") == target, F.col("value"))).over(by_user),
    ).withColumn("dev", F.abs(F.col("value") - F.col("med")))
    m2 = m.withColumn(
        "rn2", F.row_number().over(by_user.orderBy("dev", "event_id"))
    ).withColumn(
        "mad",
        F.max(F.when(F.col("rn2") == target, F.col("dev"))).over(by_user),
    )
    return m2.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(
            F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


@register(
    "pii_k_anonymity",
    oracle="""
    SELECT c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS class_size,
           count(*) < 5 AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def pii_k_anonymity_q(spark, sf_dir):
    """k-anonymity audit (Sweeney 2002 — the release gate for
    quasi-identifier re-identification risk): group the table by its
    quasi-identifier tuple AFTER one generalization step (account
    balance coarsened to 2000-unit bands — the hierarchy-climb that
    trades utility for class size), emit each equivalence class with
    its size and an ``at_risk`` flag for classes below k=5 (the rows a
    release would have to suppress or generalize further).  One hash
    aggregation, map-side combinable; output is O(classes) —
    independent of row count, the 100 TB privacy-audit shape.  The
    band edge uses floor(x/2000) on the exact input double — one IEEE
    division both engines."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "class_size",
        (F.col("class_size") < 5).alias("at_risk"),
    )


@register(
    "stats_correlation_matrix",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
      FROM lineitem
    ), i AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(q AS HUGEINT)) AS s_qc,
             SUM(CAST(p AS HUGEINT)) AS s_pc,
             SUM(CAST(d AS HUGEINT)) AS s_dc,
             SUM(CAST(q * q AS HUGEINT)) AS p_qqc,
             SUM(CAST(p * p AS HUGEINT)) AS p_ppc,
             SUM(CAST(d * d AS HUGEINT)) AS p_ddc,
             SUM(CAST(q * p AS HUGEINT)) AS p_qpc,
             SUM(CAST(q * d AS HUGEINT)) AS p_qdc,
             SUM(CAST(p * d AS HUGEINT)) AS p_pdc
      FROM c
    ), s AS (
      SELECT n,
             CAST(s_qc AS DOUBLE) / 100.0 AS s_q,
             CAST(s_pc AS DOUBLE) / 100.0 AS s_p,
             CAST(s_dc AS DOUBLE) / 100.0 AS s_d,
             CAST(p_qqc AS DOUBLE) / 10000.0 AS p_qq,
             CAST(p_ppc AS DOUBLE) / 10000.0 AS p_pp,
             CAST(p_ddc AS DOUBLE) / 10000.0 AS p_dd,
             CAST(p_qpc AS DOUBLE) / 10000.0 AS p_qp,
             CAST(p_qdc AS DOUBLE) / 10000.0 AS p_qd,
             CAST(p_pdc AS DOUBLE) / 10000.0 AS p_pd
      FROM i
    )
    SELECT col_a, col_b, n,
           round((n * pab - sa * sb)
                 / sqrt((n * paa - sa * sa)
                        * (n * pbb - sb * sb)),
                 6) AS corr
    FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
             s_q AS sa, s_p AS sb, p_qq AS paa, p_pp AS pbb, p_qp AS pab
      FROM s
      UNION ALL
      SELECT 'l_quantity', 'l_discount', n,
             s_q, s_d, p_qq, p_dd, p_qd FROM s
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', n,
             s_p, s_d, p_pp, p_dd, p_pd FROM s
    )
    """,
)
def stats_correlation_matrix_q(spark, sf_dir):
    """Pairwise Pearson correlation matrix with EXACT-decimal moment
    sums (the profiling pass a feature-selection / drift pipeline runs
    over numeric columns): all nine moments (Σx, Σx², Σxy per pair)
    accumulate under the scaled-integer discipline of the Pearson row
    (exact cents, long·long products, DECIMAL(38,0)/HUGEINT sums —
    order-independent AND 3× cheaper than decimal multiplies) in ONE
    scan-and-aggregate, then descale by identical /100 powers —
    and only the final corr formula runs in floats (identical IEEE
    expression both engines, 6 dp at the edge).  Engine-native
    ``corr()`` can never value-oracle (float accumulation order); this
    shape can, and is map-side combinable at any scale.  Output is
    3 rows per table, row-count independent."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        .alias("p"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("d"),
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        exact.sum_long("q").alias("s_qc"),
        exact.sum_long("p").alias("s_pc"),
        exact.sum_long("d").alias("s_dc"),
        exact.sum_long("q * q").alias("p_qqc"),
        exact.sum_long("p * p").alias("p_ppc"),
        exact.sum_long("d * d").alias("p_ddc"),
        exact.sum_long("q * p").alias("p_qpc"),
        exact.sum_long("q * d").alias("p_qdc"),
        exact.sum_long("p * d").alias("p_pdc"),
    ).select(
        "n",
        (F.col("s_qc").cast("double") / 100.0).alias("s_q"),
        (F.col("s_pc").cast("double") / 100.0).alias("s_p"),
        (F.col("s_dc").cast("double") / 100.0).alias("s_d"),
        (F.col("p_qqc").cast("double") / 10000.0).alias("p_qq"),
        (F.col("p_ppc").cast("double") / 10000.0).alias("p_pp"),
        (F.col("p_ddc").cast("double") / 10000.0).alias("p_dd"),
        (F.col("p_qpc").cast("double") / 10000.0).alias("p_qp"),
        (F.col("p_qdc").cast("double") / 10000.0).alias("p_qd"),
        (F.col("p_pdc").cast("double") / 10000.0).alias("p_pd"),
    )
    pairs = [
        ("l_quantity", "l_extendedprice", "s_q", "s_p", "p_qq", "p_pp", "p_qp"),
        ("l_quantity", "l_discount", "s_q", "s_d", "p_qq", "p_dd", "p_qd"),
        ("l_extendedprice", "l_discount", "s_p", "s_d", "p_pp", "p_dd", "p_pd"),
    ]
    # ONE projection over the 1-row moment frame (a 3-way union would
    # re-run the scan+agg once per branch): the pair rows explode out
    # of an array of structs, each corr computed in place.
    structs = []
    for a, b, sa, sb, paa, pbb, pab in pairs:
        n = F.col("n")
        dbl = lambda c: F.col(c).cast("double")  # noqa: E731
        corr = F.round(
            (n * dbl(pab) - dbl(sa) * dbl(sb))
            / F.sqrt(
                (n * dbl(paa) - dbl(sa) * dbl(sa))
                * (n * dbl(pbb) - dbl(sb) * dbl(sb))
            ),
            6,
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("n").alias("n"),
                corr.alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


@register(
    "text_chardist_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9 ]'))
               AS c
      FROM documents WHERE doc_id < 3000
    ), cnt AS (
      SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2
    ), terms AS (
      SELECT doc_id, CAST(k * ln(k) AS DECIMAL(28,9)) AS t, k FROM cnt
    )
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_unique,
           round(ln(sum(k)) - CAST(sum(t) AS DOUBLE) / sum(k), 6)
             AS entropy
    FROM terms GROUP BY doc_id
    """,
)
def text_chardist_entropy_q(spark, sf_dir):
    """Per-document character-distribution Shannon entropy (the
    gibberish / encoded-blob / keyboard-mash quality signal next to
    the Gopher and C4 rules): alphabet-restricted char counts, then
    ``H = ln(n) − (Σ kᵢ·ln kᵢ)/n``.  The order-dependent float sum is
    made engine-exact: each ``k·ln k`` term rounds to 9 dp ONCE
    (deterministic per term — counts are integers, ``ln`` agrees
    across engines as the LM-scoring tier already relies on), the sum
    accumulates exactly (``exact.sum_scaled``), and only the final
    subtraction/division is float, rounded 6 dp.  Two hash
    aggregations, both map-side combinable; no windows, no sorts —
    linear at any scale."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 3000)
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9 ]', 0)")
            ).alias("c"),
        )
    )
    cnt = d.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    t = exact.sum_scaled("k * ln(k)", 9)
    return cnt.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_chars"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.log(F.sum("k")) - t.cast("double") / F.sum("k"), 6
        ).alias("entropy"),
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), c AS (
      SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT cur, nxt, n,
           round(CAST(n AS DOUBLE) /
                 sum(n) OVER (PARTITION BY cur), 6) AS p
    FROM c
    """,
)
def events_transition_matrix_q(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (the journey/next-action model behind funnel design and
    sequence anomaly detection): ``lead`` pairs each event with its
    user's next event under one hash partitioning on user_id, pair
    counts aggregate map-side-combinably, and the row-conditional
    probability normalizes over a types×types frame (O(|types|²) —
    constant-size, row-count independent).  The only float op is one
    division, rounded 6 dp — identical single IEEE ops both engines.
    Scale: the window sorts WITHIN user-sized groups (never
    table-grain); output is the model itself."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    by_cur = Window.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(by_cur), 6
        ).alias("p"),
    )


@register(
    "stats_cusum_drift",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             SUM(CAST(value AS DECIMAL(18,6)) - 50)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cusum
      FROM events WHERE event_type = 'view'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(cusum) AS DOUBLE) AS max_cusum,
           CAST(min(cusum) AS DOUBLE) AS min_cusum,
           CAST(sum(CASE WHEN abs(cusum) > 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           CAST(min(CASE WHEN abs(cusum) > 200 THEN event_id END)
                AS BIGINT) AS first_alarm
    FROM s GROUP BY user_id
    """,
)
def stats_cusum_drift_q(spark, sf_dir):
    """CUSUM drift/changepoint detection per key (Page 1954 — the SPC
    monitor that flags a sustained level shift long before a mean
    test): running sum of (value − target) per user in EXACT decimals
    (the cumulative window sum never touches floats, so every
    intermediate is engine-identical), alarm where |S| crosses the
    decision interval, plus the first crossing's event id.  The
    sequential fold that makes CUSUM un-SQL-able in float becomes
    portable integer algebra in decimal.  Scale: one hash partitioning
    on user_id, window sorts within user-sized groups, one
    aggregation — linear, no table-grain sort."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select("user_id", "event_id", "ts", "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = ev.withColumn(
        "cusum",
        F.sum(F.col("value").cast("decimal(18,6)") - 50).over(w),
    )
    alarmed = F.abs(F.col("cusum")) > 200
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cusum").cast("double").alias("max_cusum"),
        F.min("cusum").cast("double").alias("min_cusum"),
        F.sum(F.when(alarmed, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.min(F.when(alarmed, F.col("event_id"))).cast("long")
        .alias("first_alarm"),
    )


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9'']+'),
               x -> x != '')) AS toks
      FROM documents WHERE doc_id < 80
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(length(list_intersect(a.toks, b.toks)) AS BIGINT)
             AS n_shared,
           round(CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / least(length(a.toks), length(b.toks)), 6)
             AS containment
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE length(a.toks) > 0 AND length(b.toks) > 0
      AND CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / least(length(a.toks), length(b.toks)) >= 0.6
    """,
)
def dedup_containment_pairs_q(spark, sf_dir):
    """Token-set CONTAINMENT pairs — the subset-duplicate detector the
    Jaccard tier misses (Broder's containment C = |A∩B| / min(|A|,|B|):
    a short doc fully embedded in a long one scores ~1.0 here but low
    Jaccard because the union is dominated by the long doc; exactly
    the boilerplate-wrapped-article and quote-inside-thread cases a
    training-data dedup must catch).  Same blocked-verifier shape as
    ``dedup_ngram_jaccard``: language-blocked self-join (never
    all-pairs), distinct word-token arrays built by one codegen'd
    projection, intersection sized JVM-side — no explode, no UDF.
    Determinism: set sizes are integers; the single float division is
    IEEE-identical in both engines, rounded 6 dp.  At 100 TB the lang
    block becomes the LSH band bucket (dedup_minhash_lsh) and this
    exact containment is its verifier stage."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"[^a-z0-9']+", -1),
                    lambda t: t != "",
                )
            ).alias("toks"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.toks"), F.col("b.toks"))
    )
    denom = F.least(
        F.size(F.col("a.toks")), F.size(F.col("b.toks"))
    )
    cont = inter.cast("double") / denom
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            (F.size(F.col("a.toks")) > 0)
            & (F.size(F.col("b.toks")) > 0)
            & (cont >= 0.6)
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.cast("bigint").alias("n_shared"),
            F.round(cont, 6).alias("containment"),
        )
    )

@register(
    "text_ngram_novelty",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')
               AS toks
      FROM documents
    ),
    cg AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 6, 1)),
               i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
      FROM t WHERE doc_id % 10 >= 8
    ),
    rg AS (
      SELECT DISTINCT
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 6, 1)),
               i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
      FROM t WHERE doc_id % 10 < 8
    )
    SELECT cg.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE rg.gram IS NULL) AS BIGINT)
             AS n_novel,
           round(CAST(count(*) FILTER (WHERE rg.gram IS NULL) AS DOUBLE)
                 / count(*), 6) AS novelty_rate
    FROM cg LEFT JOIN rg USING (gram)
    GROUP BY cg.doc_id
    """,
)
def text_ngram_novelty_q(spark, sf_dir):
    """Per-document 8-gram novelty rate of the incoming slice
    (doc_id % 10 ≥ 8) against the training corpus (% 10 < 8) — the
    incremental-data-valuation metric a curation pipeline ranks new
    crawls by (near-zero novelty = pay nothing for this source; the
    measured complement of [text_decontaminate]'s boolean overlap
    flag).  Hashed-gram equi-join per llm/text.ngram_novelty — no gram
    strings materialize Spark-side; the string-keyed oracle proves the
    hash path collision-free on the fixture."""
    from apache_nifi_spark.llm import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    return ngram_novelty(
        d.filter(F.col("doc_id") % 10 >= 8),
        d.filter(F.col("doc_id") % 10 < 8),
        n=8,
    )

def _ketama_ring(nodes, vnodes=16):
    """Driver-side consistent-hash ring: (hex8(md5(node:v)) + '#' +
    node) strings, sorted.  Fixed-width lowercase hex compares as the
    32-bit ring position, so MIN over strings IS the ring walk — the
    trick that makes the whole assignment a map-only expression in
    both engines.  hashlib md5 == Spark md5 == DuckDB md5 on the same
    bytes, so the Python-built ring is engine-portable config."""
    import hashlib

    pts = []
    for node in nodes:
        for v in range(vnodes):
            h = hashlib.md5(f"{node}:{v}".encode()).hexdigest()[:8]
            pts.append(f"{h}#{node}")
    return sorted(pts)


def _ring_assign(ring, key_col):
    """First ring point clockwise of md5(key) (wrap to the ring's
    smallest point): coalesce(array_min(points ≥ key), first point)."""
    arr = F.array(*[F.lit(p) for p in ring])
    kh = F.substring(F.md5(key_col.cast("string")), 1, 8)
    nxt = F.array_min(
        F.filter(arr, lambda p: F.substring(p, 1, 8) >= kh)
    )
    return F.substring_index(F.coalesce(nxt, F.lit(ring[0])), "#", -1)


def _ring_sql(nodes, vnodes=16):
    ring = _ketama_ring(nodes, vnodes)
    lits = ", ".join(f"'{p}'" for p in ring)
    return f"[{lits}]", ring[0]


@register(
    "shard_consistent_hash_ring",
    oracle=f"""
    WITH cfg AS (
      SELECT {_ring_sql(['n0', 'n1', 'n2', 'n3'])[0]} AS ring4,
             '{_ring_sql(['n0', 'n1', 'n2', 'n3'])[1]}' AS first4,
             {_ring_sql(['n0', 'n1', 'n2', 'n3', 'n4'])[0]} AS ring5,
             '{_ring_sql(['n0', 'n1', 'n2', 'n3', 'n4'])[1]}' AS first5
    ), k AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS kh
      FROM documents WHERE doc_id < 5000
    )
    SELECT doc_id,
           split_part(coalesce(
             list_min(list_filter(ring4, p -> substr(p, 1, 8) >= kh)),
             first4), '#', 2) AS node4,
           split_part(coalesce(
             list_min(list_filter(ring5, p -> substr(p, 1, 8) >= kh)),
             first5), '#', 2) AS node5,
           split_part(coalesce(
             list_min(list_filter(ring4, p -> substr(p, 1, 8) >= kh)),
             first4), '#', 2)
           <> split_part(coalesce(
             list_min(list_filter(ring5, p -> substr(p, 1, 8) >= kh)),
             first5), '#', 2) AS moved
    FROM k, cfg
    """,
)
def shard_consistent_hash_ring_q(spark, sf_dir):
    """Consistent-hash ring sharding under a RESIZE (the ketama scheme
    NiFi-style clusters and every distributed cache use — the §2.12
    training-shard tier's third layout beside modulo and rendezvous):
    4 nodes × 16 vnodes vs 5 nodes side by side, with the ``moved``
    flag.  The ring's minimal-disruption guarantee: only the arc
    segments the new node's vnodes claim move (~1/5 of keys), and
    EVERY mover lands on the new node — asserted as an invariant in
    tests/test_llm.py.

    Scale shape: the ring is CONFIG (nodes×vnodes literal points,
    built driver-side — hashlib md5 ≡ engine md5), the assignment is
    coalesce(array_min(filter(ring, point ≥ md5(key))), first point)
    — a pure map-side expression over fixed-width hex strings, no
    join, no shuffle, no UDF."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5000)
        .select("doc_id")
    )
    r4 = _ketama_ring(["n0", "n1", "n2", "n3"])
    r5 = _ketama_ring(["n0", "n1", "n2", "n3", "n4"])
    n4 = _ring_assign(r4, F.col("doc_id"))
    n5 = _ring_assign(r5, F.col("doc_id"))
    return d.select(
        "doc_id",
        n4.alias("node4"),
        n5.alias("node5"),
        (n4 != n5).alias("moved"),
    )

@register(
    "multimodal_image_tiff_meta",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 2 WHEN 0 THEN 'II' ELSE 'MM' END AS endian,
           CAST(100 + doc_id % 4000 AS INT) AS width,
           CAST(80 + doc_id % 2000 AS INT) AS height,
           CAST(8 * (1 + doc_id % 2) AS INT) AS bits_per_sample,
           CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 5 ELSE 7 END
                AS INT) AS compression,
           CAST(1 + doc_id % 2 AS INT) AS photometric,
           CAST(CASE doc_id % 2 WHEN 0 THEN 1 ELSE 3 END AS INT)
             AS samples_per_pixel,
           CAST(6 AS INT) AS n_ifd_entries
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_image_tiff_q(spark, sf_dir):
    """REAL TIFF 6.0 IFD walk, value-oracled (the image-container
    sibling of the MP4/WebM/FLAC rows — TIFF is the scan/geo/archive
    master format a multimodal curation pass meets after JPEG/PNG):
    spec-valid single-IFD skeletons are built executor-side
    (llm/multimodal.encode_tiff) ALTERNATING byte order II/MM per doc,
    then parse_tiff_metadata walks the header → magic-42 → tag-sorted
    entry table back out: dimensions, BitsPerSample, Compression
    (none/LZW/JPEG cycling), photometric, samples (single inline
    BitsPerSample value — the equal-across-samples writer shorthand).
    The endianness alternation is the test: one wrong byte-order read
    breaks half the oracle rows.  Pixel strips (codec work) remain the
    documented external seam.  Arrow-batched row maps both ways;
    the oracle recomputes every field arithmetically."""
    from apache_nifi_spark.llm import decode_image_tiff_meta, encode_tiff

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def synth(d):
        yield d, encode_tiff(
            width=100 + d % 4000,
            height=80 + d % 2000,
            bits=8 * (1 + d % 2),
            compression=[1, 5, 7][d % 3],
            photometric=1 + d % 2,
            samples=1 if d % 2 == 0 else 3,
            big_endian=(d % 2 == 1),
        )

    tiff = io.flat_map(base, ["doc_id"], synth, "doc_id long, content binary")
    return decode_image_tiff_meta(tiff)

@register(
    "pii_l_diversity",
    oracle="""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             o.o_orderpriority AS sensitive
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), sv AS (
      SELECT c_nationkey, c_mktsegment, sensitive,
             count(*) AS k
      FROM j GROUP BY 1, 2, 3
    ), terms AS (
      SELECT c_nationkey, c_mktsegment, k,
             CAST(k * ln(k) AS DECIMAL(28,9)) AS t
      FROM sv
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(sum(k) AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS l_distinct,
           round(ln(sum(k)) - CAST(sum(t) AS DOUBLE) / sum(k), 6)
             AS sensitive_entropy,
           count(*) < 3 AS at_risk
    FROM terms GROUP BY 1, 2
    """,
)
def pii_l_diversity_q(spark, sf_dir):
    """l-diversity audit (Machanavajjhala 2007 — the release gate
    k-anonymity misses: a k=1000 class whose SENSITIVE attribute is
    constant still leaks it for every member): per quasi-identifier
    class (nation × segment), the number of DISTINCT sensitive values
    (order priority) and the Shannon entropy of their distribution —
    distinct-l flags classes below l=3, entropy-l is the stricter
    read-out.  Entropy uses the decimal-summed k·ln k pattern
    (order-free sums, one float combination rounded 6 dp).  Two hash
    aggregations, both map-side combinable; output is O(classes ×
    values) then O(classes) — row-count independent, the 100 TB
    privacy-audit shape next to [pii_k_anonymity]."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    sv = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey", "c_mktsegment",
            F.col("o_orderpriority").alias("sensitive"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    terms = sv.select(
        "c_nationkey", "c_mktsegment", "k",
        (F.col("k") * F.log(F.col("k"))).cast("decimal(28,9)").alias("t"),
    )
    return terms.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("k").cast("bigint").alias("class_size"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        F.round(
            F.log(F.sum("k")) - F.sum("t").cast("double") / F.sum("k"), 6
        ).alias("sensitive_entropy"),
        (F.count(F.lit(1)) < 3).alias("at_risk"),
    )

@register(
    "text_burstiness",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x != '')) AS term
      FROM documents
    ), tc AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ), nd AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM documents
    ), s AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS df,
             SUM(CAST(c AS HUGEINT)) AS sc,
             SUM(CAST(c * c AS HUGEINT)) AS scc
      FROM tc GROUP BY term
    )
    SELECT term, df, CAST(sc AS BIGINT) AS total_count,
           round((CAST(scc AS DOUBLE) / n_docs
                  - (CAST(sc AS DOUBLE) / n_docs)
                    * (CAST(sc AS DOUBLE) / n_docs))
                 / (CAST(sc AS DOUBLE) / n_docs), 6) AS dispersion,
           round(CAST(sc AS DOUBLE) / df, 6) AS burstiness
    FROM s, nd WHERE df >= 50
    """,
)
def text_burstiness_q(spark, sf_dir):
    """Term burstiness / index of dispersion (Church & Gale 1995 — the
    content-vs-function-word signal a corpus pipeline reads before
    keyword extraction or stopword induction): per term, the
    variance-to-mean ratio of its per-document counts over ALL
    documents (D = σ²/μ; ≈1 = Poisson scatter = function word, ≫1 =
    bursty = topical content word) plus the classic per-occurrence
    burstiness E[c | c>0] = Σc/df.  Zero-count documents never
    materialize: with N total docs, μ = Σc/N and σ² = Σc²/N − μ² need
    only the occurring-doc moments (integer-exact HUGEINT/decimal
    sums) and the 1-row N broadcast.  Shape: token explode → (term,
    doc) hash agg → term hash agg, all map-side combinable; df ≥ 50
    bounds the report to the head vocabulary.  Floats are single
    shared IEEE expressions, rounded 6 dp."""
    from apache_nifi_spark.llm.text import _ws_tokens

    d = _t(spark, sf_dir, "documents")
    ndocs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    tok = d.select(
        "doc_id",
        F.explode(_ws_tokens(F.lower(F.col("text")))).alias("term"),
    )
    tc = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    s = (
        tc.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            exact.sum_long("c").alias("sc"),
            exact.sum_long("c * c").alias("scc"),
        )
        .filter(F.col("df") >= 50)
    )
    mu = F.col("sc").cast("double") / F.col("n_docs")
    return s.join(F.broadcast(ndocs)).select(
        "term", "df",
        F.col("sc").cast("bigint").alias("total_count"),
        F.round(
            (F.col("scc").cast("double") / F.col("n_docs") - mu * mu) / mu,
            6,
        ).alias("dispersion"),
        F.round(F.col("sc").cast("double") / F.col("df"), 6)
        .alias("burstiness"),
    )

@register(
    "stats_cohens_kappa",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             length(list_intersect(toks, ['the','and','of','to','a','in','is','it','that','for'])) AS s_en,
             length(list_intersect(toks, ['el','la','de','que','y','en','un','es','por','con'])) AS s_es,
             length(list_intersect(toks, ['le','la','de','et','un','en','est','que','pour','dans'])) AS s_fr,
             length(list_intersect(toks, ['der','die','das','und','in','von','zu','mit','ist','auf'])) AS s_de,
             length(list_intersect(toks, ['的','了','是','在','我','有','和','就','不','人'])) AS s_zh
      FROM t
    ), p AS (
      SELECT lang,
             CASE WHEN greatest(s_en,s_es,s_fr,s_de,s_zh) = 0 THEN 'unknown'
                  WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'en'
                  WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'es'
                  WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'fr'
                  WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_zh) THEN 'de'
                  ELSE 'zh' END AS pred
      FROM s
    ), cells AS (
      SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    ), r AS (
      SELECT lang AS label, sum(n) AS rn FROM cells GROUP BY 1
    ), c AS (
      SELECT pred AS label, sum(n) AS cn FROM cells GROUP BY 1
    ), m AS (
      SELECT CAST(sum(CAST(coalesce(rn, 0) AS HUGEINT)
                       * coalesce(cn, 0)) AS HUGEINT) AS pe_num
      FROM r FULL JOIN c USING (label)
    ), agg AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(n) FILTER (WHERE lang = pred) AS BIGINT) AS agree
      FROM cells
    )
    SELECT n_docs, agree,
           round(CAST(agree AS DOUBLE) / n_docs, 6) AS po,
           round(CAST(pe_num AS DOUBLE)
                 / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS pe,
           round((CAST(agree AS DOUBLE) / n_docs
                  - CAST(pe_num AS DOUBLE)
                    / (CAST(n_docs AS DOUBLE) * n_docs))
                 / (1 - CAST(pe_num AS DOUBLE)
                        / (CAST(n_docs AS DOUBLE) * n_docs)), 6) AS kappa
    FROM agg, m
    """,
)
def stats_cohens_kappa_q(spark, sf_dir):
    """Cohen's κ inter-rater agreement between the DECLARED language
    label and the stopword-argmax language-ID prediction (the
    label-quality audit a curation pipeline runs on any
    machine-labeled column: raw accuracy p₀ flatters imbalanced label
    sets, κ subtracts the chance agreement p_e = Σ r_ℓ·c_ℓ/N²).
    Shape: the language-ID scorer at row grain (map-only), ONE hash
    agg to the ≤|labels|² confusion frame, then margins/diagonal on
    control-plane-size frames (marginal products summed as
    HUGEINT/decimal — order-free); κ is one shared IEEE expression
    rounded 6 dp.  [text_language_id] reports the per-doc verdicts;
    this row is its corpus-level scorecard."""
    from apache_nifi_spark.llm import language_id

    p = language_id(_t(spark, sf_dir, "documents")).select(
        "lang", F.col("lang_pred").alias("pred")
    )
    cells = p.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n"))
    r = cells.groupBy(F.col("lang").alias("label")).agg(
        F.sum("n").alias("rn")
    )
    c = cells.groupBy(F.col("pred").alias("label")).agg(
        F.sum("n").alias("cn")
    )
    m = (
        r.join(c, "label", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("rn"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("cn"), F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("pe_num")
        )
    )
    agg = cells.agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    j = agg.join(F.broadcast(m))  # 1-row × 1-row: bounded by construction
    nd = F.col("n_docs").cast("double")
    po = F.col("agree").cast("double") / F.col("n_docs")
    pe = F.col("pe_num").cast("double") / (nd * F.col("n_docs"))
    return j.select(
        "n_docs", "agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )

@register(
    "text_mattr_diversity",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x != '') AS toks
      FROM documents WHERE doc_id < 1500
    ), w AS (
      SELECT doc_id, len(toks) AS n_tokens,
             greatest(len(toks) - 49, 1) AS n_windows,
             CASE WHEN len(toks) = 0 THEN 0
                  ELSE list_sum(list_transform(
                    range(1, greatest(len(toks) - 49, 1) + 1),
                    i -> len(list_distinct(
                           list_slice(toks, i, i + least(49, len(toks) - 1))))))
             END AS dsum
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_windows AS BIGINT) AS n_windows,
           CASE WHEN n_tokens = 0 THEN NULL
                ELSE round(CAST(dsum AS DOUBLE)
                           / (least(50, n_tokens) * n_windows), 6)
           END AS mattr
    FROM w
    """,
)
def text_mattr_diversity_q(spark, sf_dir):
    """MATTR lexical diversity (Covington & McFall 2010 — the
    length-robust type-token ratio; plain TTR decays with document
    length, so corpus quality gates use the moving-average variant):
    per document, the mean distinct-token ratio over all 50-token
    sliding windows (documents shorter than the window fall back to
    one whole-document window — the standard rule).  The windowed
    distinct counts are INTEGERS, so the mean is Σdistinctᵢ/(w·n_win)
    with an exact integer numerator — no order-dependent float sum —
    and one final division rounded 6 dp.  Pure array algebra
    (sequence→slice→array_distinct), map-only, no shuffle, no UDF;
    per-doc cost is O(tokens·w), independent of corpus size."""
    from apache_nifi_spark.llm.text import _ws_tokens

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select(
            "doc_id", _ws_tokens(F.lower(F.col("text"))).alias("toks")
        )
    )
    n = F.size("toks")
    n_win = F.greatest(n - 49, F.lit(1))
    wlen = F.least(F.lit(50), n)
    dsum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.size(
                F.array_distinct(F.slice(F.col("toks"), i, 50))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        n_win.cast("bigint").alias("n_windows"),
        F.when(n == 0, F.lit(None).cast("double")).otherwise(
            F.round(dsum.cast("double") / (wlen * n_win), 6)
        ).alias("mattr"),
    )

@register(
    "graph_link_prediction",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    ids AS (SELECT doc_id AS i FROM documents),
    raw AS (
      SELECT i AS ea, (i + 1) % nn AS eb FROM ids, n
      UNION ALL SELECT i, (i + 2) % nn FROM ids, n
      UNION ALL SELECT i, (i * 7 + 3) % nn FROM ids, n
    ),
    e0 AS (
      SELECT DISTINCT least(ea, eb) AS ea, greatest(ea, eb) AS eb
      FROM raw WHERE ea <> eb
    ),
    adj AS (
      SELECT ea AS node, eb AS nbr FROM e0
      UNION ALL SELECT eb, ea FROM e0
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1
    ),
    wedges AS (
      SELECT a1.node AS u, a2.node AS v, a1.nbr AS z, dz.dg AS zdg
      FROM adj a1
      JOIN adj a2 ON a1.nbr = a2.nbr AND a1.node < a2.node
      JOIN deg dz ON dz.node = a1.nbr
    ),
    cand AS (
      SELECT u, v,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             sum(CAST(1.0 / ln(zdg) AS DECIMAL(28,9))) AS aa
      FROM wedges GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    ne AS (
      SELECT cand.* FROM cand
      LEFT JOIN e0 ON e0.ea = cand.u AND e0.eb = cand.v
      WHERE e0.ea IS NULL
    )
    SELECT u, v, common_neighbors,
           round(CAST(common_neighbors AS DOUBLE)
                 / (du.dg + dv.dg - common_neighbors), 6) AS jaccard,
           round(CAST(aa AS DOUBLE), 6) AS adamic_adar
    FROM ne
    JOIN deg du ON du.node = ne.u
    JOIN deg dv ON dv.node = ne.v
    """,
)
def graph_link_prediction_q(spark, sf_dir):
    """Link prediction over the deterministic document graph (§2.12
    graph tier, beside pagerank and triangles — the "which duplicate
    cluster / citation edge appears next" primitive): common-neighbor,
    Jaccard, and Adamic–Adar scores for every NON-edge with ≥2 shared
    neighbors, via one wedge self-join on the shared neighbor (fan-out
    Σ deg(z)² — linear on this constant-degree graph, √m-bounded after
    orientation on power-law ones), an anti join against the edge
    list, and two degree joins.  Adamic–Adar terms decimal-cast once
    (order-free sum); everything else integer-exact.
    llm/graph.link_prediction_scores."""
    from apache_nifi_spark.llm.graph import link_prediction_scores

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("i"))
    nn = ids.count()  # control-plane: 1 int, the node count
    edges = (
        ids.select(
            F.col("i").alias("src"), ((F.col("i") + 1) % nn).alias("dst")
        )
        .unionAll(
            ids.select(
                F.col("i").alias("src"), ((F.col("i") + 2) % nn).alias("dst")
            )
        )
        .unionAll(
            ids.select(
                F.col("i").alias("src"),
                ((F.col("i") * 7 + 3) % nn).alias("dst"),
            )
        )
    )
    return link_prediction_scores(edges)

@register(
    "stats_mcnemar_test",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             length(list_intersect(toks, ['the','and','of','to','a','in','is','it','that','for'])) AS s_en,
             length(list_intersect(toks, ['el','la','de','que','y','en','un','es','por','con'])) AS s_es,
             length(list_intersect(toks, ['le','la','de','et','un','en','est','que','pour','dans'])) AS s_fr,
             length(list_intersect(toks, ['der','die','das','und','in','von','zu','mit','ist','auf'])) AS s_de,
             length(list_intersect(toks, ['的','了','是','在','我','有','和','就','不','人'])) AS s_zh
      FROM t
    ), p AS (
      SELECT (lang = 'en') AS rater_a,
             (greatest(s_en,s_es,s_fr,s_de,s_zh) > 0
              AND s_en = greatest(s_en,s_es,s_fr,s_de,s_zh)) AS rater_b
      FROM s
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE rater_a AND NOT rater_b) AS BIGINT)
             AS b,
           CAST(count(*) FILTER (WHERE NOT rater_a AND rater_b) AS BIGINT)
             AS c,
           round(pow(CAST(count(*) FILTER (WHERE rater_a AND NOT rater_b)
                          AS DOUBLE)
                     - count(*) FILTER (WHERE NOT rater_a AND rater_b), 2)
                 / (count(*) FILTER (WHERE rater_a AND NOT rater_b)
                    + count(*) FILTER (WHERE NOT rater_a AND rater_b)),
                 6) AS chi2
    FROM p
    """,
)
def stats_mcnemar_test_q(spark, sf_dir):
    """McNemar's paired test on the binary "is it English?" question —
    declared label vs the language-ID argmax as the two paired raters
    (the A/B-labeler comparison run on the SAME documents, where the
    unpaired χ² would be wrong): only the DISCORDANT counts matter,
    χ² = (b−c)²/(b+c).  Counts are exact integers from one map-side-
    combinable agg over a map-only scorer pass; the statistic is one
    shared IEEE expression rounded 6 dp.  The paired complement of
    [stats_cohens_kappa]'s agreement scorecard."""
    from apache_nifi_spark.llm import language_id

    p = language_id(_t(spark, sf_dir, "documents")).select(
        (F.col("lang") == "en").alias("ra"),
        (F.col("lang_pred") == "en").alias("rb"),
    )
    b = F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
    c = F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        F.round(
            F.pow(b.cast("double") - c, F.lit(2)) / (b + c), 6
        ).alias("chi2"),
    )


# =====================================================================
# Round 15: Welch's t, Jensen-Shannon drift, t-closeness, Kaplan-Meier,
# rolling distinct actives, KMV theta intersection, PNG metadata
# (§2.12 statistics/governance additions)
# =====================================================================

@register(
    "stats_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT o_orderstatus AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS ss
      FROM orders WHERE o_orderstatus IN ('F', 'O')
      GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN grp = 'F' THEN n END) AS n1,
             max(CASE WHEN grp = 'O' THEN n END) AS n2,
             max(CASE WHEN grp = 'F' THEN CAST(s AS DOUBLE) END) AS s1,
             max(CASE WHEN grp = 'O' THEN CAST(s AS DOUBLE) END) AS s2,
             max(CASE WHEN grp = 'F' THEN CAST(ss AS DOUBLE) END) AS ss1,
             max(CASE WHEN grp = 'O' THEN CAST(ss AS DOUBLE) END) AS ss2
      FROM g
    ), v AS (
      SELECT n1, n2,
             (s1 / n1) / 100.0 AS m1,
             (s2 / n2) / 100.0 AS m2,
             ((ss1 - s1 * s1 / n1) / (n1 - 1)) / 10000.0 AS v1,
             ((ss2 - s2 * s2 / n2) / (n2 - 1)) / 10000.0 AS v2
      FROM w
    )
    SELECT n1, n2,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
           round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 4) AS df_welch
    FROM v
    """,
)
def stats_welch_ttest_q(spark, sf_dir):
    """Welch's unequal-variance t-test (finished vs open orders' price
    means — the mean-shift companion to [stats_ab_test_ztest]'s
    proportion test and [stats_levene_test]'s variance test; Welch is
    the default recommendation since variances are rarely equal):
    moment sums in INTEGER CENTS (the round-14 scaled-int discipline —
    floor(x·100+0.5) is one IEEE op both engines agree on, products as
    long·long, Σ as DECIMAL(38,0) — addition-order independent), then
    ONE shared float pipeline for the means/variances, the t statistic
    and the Welch–Satterthwaite degrees of freedom.  Single
    map-side-combinable agg to 2 rows; everything after is
    control-plane arithmetic."""
    cents = "CAST(floor(o_totalprice * 100 + 0.5D) AS BIGINT)"
    g = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy(F.col("o_orderstatus").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact sums: a plain long Σ of cent-squares overflows
            # past ~4M rows (caught by the sf0.1 probe)
            exact.sum_long(cents).alias("s"),
            exact.sum_long(f"{cents} * {cents}").alias("ss"),
        )
    )
    pick = lambda grp, col: F.max(
        F.when(F.col("grp") == grp, F.col(col))
    )
    w = g.agg(
        pick("F", "n").alias("n1"),
        pick("O", "n").alias("n2"),
        pick("F", "s").cast("double").alias("s1"),
        pick("O", "s").cast("double").alias("s2"),
        pick("F", "ss").cast("double").alias("ss1"),
        pick("O", "ss").cast("double").alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = (F.col("s1") / n1) / 100.0
    m2 = (F.col("s2") / n2) / 100.0
    v1 = ((F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)) / 1e4
    v2 = ((F.col("ss2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)) / 1e4
    se1, se2 = v1 / n1, v2 / n2
    return w.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round((m1 - m2) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)),
            4,
        ).alias("df_welch"),
    )


@register(
    "stats_jensen_shannon_drift",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS a,
             CAST(COUNT(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) AS b
      FROM events GROUP BY 1
    ), t AS (
      SELECT event_type, a, b,
             CAST(SUM(a) OVER () AS DOUBLE) AS ta,
             CAST(SUM(b) OVER () AS DOUBLE) AS tb
      FROM c
    ), terms AS (
      SELECT CAST(a AS DOUBLE) / ta AS p, CAST(b AS DOUBLE) / tb AS q
      FROM t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
           round(SUM(CASE WHEN p > 0
                 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END)
               + SUM(CASE WHEN q > 0
                 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END), 6)
             AS js_divergence
    FROM terms
    """,
)
def stats_jensen_shannon_drift_q(spark, sf_dir):
    """Jensen–Shannon divergence between the even- and odd-half event-
    type distributions (the SYMMETRIC, always-finite companion to
    [corpus_drift_kl] — JS is what corpus monitors actually alert on,
    because KL explodes on a vanished category and depends on argument
    order): one map-side-combinable agg to category grain (event types
    — control-plane), totals via a bounded window over that tiny
    frame, then 0.5·KL(p‖m) + 0.5·KL(q‖m) with m the midpoint mixture,
    zero-probability terms dropped exactly as the limit prescribes.
    Float ops (divide, ln) in ONE shared expression shape, rounded
    6 dp.  At 100 TB the only data-grain stage is the first agg."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("b"),
    )
    wall = Window.partitionBy()
    t = c.select(
        "a", "b",
        F.sum("a").over(wall).cast("double").alias("ta"),
        F.sum("b").over(wall).cast("double").alias("tb"),
    )
    p = F.col("a").cast("double") / F.col("ta")
    q = F.col("b").cast("double") / F.col("tb")
    m = (p + q) / 2
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.round(
            F.sum(F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(0.0))
            + F.sum(F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(0.0)),
            6,
        ).alias("js_divergence"),
    )


@register(
    "pii_t_closeness",
    oracle="""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             o.o_orderpriority AS sensitive
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), sv AS (
      SELECT c_nationkey, c_mktsegment, sensitive, count(*) AS k
      FROM j GROUP BY 1, 2, 3
    ), gv AS (
      SELECT sensitive, CAST(sum(k) AS BIGINT) AS g,
             CAST(SUM(SUM(k)) OVER () AS BIGINT) AS total
      FROM sv GROUP BY 1
    ), cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(sum(k) AS BIGINT) AS n_c
      FROM sv GROUP BY 1, 2
    ), terms AS (
      SELECT s.c_nationkey, s.c_mktsegment, c.n_c,
             CAST(abs(CAST(s.k AS DOUBLE) / c.n_c
                      - CAST(g.g AS DOUBLE) / g.total)
                  AS DECIMAL(28,9)) AS d,
             CAST(CAST(g.g AS DOUBLE) / g.total AS DECIMAL(28,9)) AS q
      FROM sv s
      JOIN gv g ON s.sensitive = g.sensitive
      JOIN cls c ON s.c_nationkey = c.c_nationkey
               AND s.c_mktsegment = c.c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(max(n_c) AS BIGINT) AS class_size,
           round(0.5 * (CAST(sum(d) AS DOUBLE)
                        + 1.0 - CAST(sum(q) AS DOUBLE)), 6) AS tvd,
           round(0.5 * (CAST(sum(d) AS DOUBLE)
                        + 1.0 - CAST(sum(q) AS DOUBLE)), 6) > 0.2
             AS violates_t02
    FROM terms GROUP BY 1, 2
    """,
)
def pii_t_closeness_q(spark, sf_dir):
    """t-closeness audit (Li, Li & Venkatasubramanian 2007 — the third
    release gate, completing [pii_k_anonymity] and [pii_l_diversity]:
    a class can be k-large and l-diverse yet still SKEWED toward one
    sensitive value; t-closeness bounds the distance between each
    class's sensitive distribution and the GLOBAL one): per
    quasi-identifier class, the total-variation distance
    0.5·Σ_v|p_cv − q_v| with the categorical-EMD identity
    Σ_v = Σ_present|p−q| + (1 − Σ_present q) so absent class-values
    never materialize.  Per-term doubles round to 9 dp before an
    exact sum (order-free — the l-diversity k·ln k pattern); one float
    combination rounded 6 dp.  Shapes: two hash aggs + a 5-row value
    join (AQE-broadcast, unhinted) — O(classes × values) throughout,
    row-count independent."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    sv = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey", "c_mktsegment",
            F.col("o_orderpriority").alias("sensitive"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    gv = sv.groupBy("sensitive").agg(F.sum("k").alias("g")).select(
        "sensitive", "g",
        F.sum("g").over(Window.partitionBy()).alias("total"),
    )
    cls = sv.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("k").alias("n_c")
    )
    p = F.col("k").cast("double") / F.col("n_c")
    q = F.col("g").cast("double") / F.col("total")
    terms = (
        sv.join(gv, "sensitive")
        .join(cls, ["c_nationkey", "c_mktsegment"])
        .select(
            "c_nationkey", "c_mktsegment", "n_c",
            F.abs(p - q).alias("d"), q.alias("q"),
        )
    )
    # each term is a share in [0, 1]
    s = lambda c: exact.sum_scaled(c, 9).cast("double")  # noqa: E731
    tvd = F.round(0.5 * (s("d") + 1.0 - s("q")), 6)
    return terms.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_c").cast("bigint").alias("class_size"),
        tvd.alias("tvd"),
        (tvd > 0.2).alias("violates_t02"),
    )


@register(
    "survival_kaplan_meier",
    oracle="""
    WITH cd AS (
      SELECT DISTINCT o_custkey, o_orderdate FROM orders
    ), mx AS (
      SELECT max(o_orderdate) AS mxd FROM cd
    ), gaps AS (
      SELECT datediff('day', o_orderdate,
                      coalesce(lead(o_orderdate) OVER (
                          PARTITION BY o_custkey ORDER BY o_orderdate),
                        (SELECT mxd FROM mx))) AS duration,
             CASE WHEN lead(o_orderdate) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate)
                  IS NULL THEN 0 ELSE 1 END AS event
      FROM cd
    ), g AS (
      SELECT duration,
             CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(1 - event) AS BIGINT) AS c
      FROM gaps GROUP BY 1
    ), r AS (
      SELECT duration, d, c,
             CAST(SUM(d + c) OVER () AS BIGINT)
               - CAST(coalesce(SUM(d + c) OVER (
                     ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n_risk
      FROM g
    ), s AS (
      SELECT duration, d, c, n_risk,
             SUM(CASE WHEN d < n_risk
                 THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                 ELSE 0 END) OVER (ORDER BY duration) AS lsum,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration) AS died_out
      FROM r
    )
    SELECT duration AS duration_days, n_risk, d AS d_events,
           c AS c_censored,
           round(CASE WHEN died_out = 1 THEN 0.0 ELSE exp(lsum) END, 6)
             AS survival
    FROM s
    """,
)
def survival_kaplan_meier_q(spark, sf_dir):
    """Kaplan–Meier survival curve over customer reorder gaps (the
    product-limit estimator, Kaplan & Meier 1958 — "how long until a
    customer orders again", with the gap after each customer's LAST
    order right-CENSORED at the table horizon; the same estimator a
    data pipeline runs on document-refresh or session-return times):
    per-customer gaps from a partitioned lead() window, value-grain
    (day) event/censor counts, risk sets by reverse cumulative count,
    and S(t) = Π(1 − dᵢ/nᵢ) as exp(Σ ln) under ONE day-grain cumulative
    window — float ln/exp in identical expression shape both engines,
    a died-out guard instead of ln(0) (Spark log(0) is NULL, DuckDB's
    is −inf — the guard sidesteps the engine divergence), rounded
    6 dp.  Scale: the only data-grain stages are the distinct and the
    per-customer window (hash-partitioned by key); the KM table itself
    is day-grain — bounded by the calendar, not the data."""
    cd = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).distinct()
    mx = cd.agg(F.max("o_orderdate").alias("mxd"))
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = F.lead("o_orderdate").over(wc)
    gaps = cd.join(F.broadcast(mx)).select(
        F.datediff(F.coalesce(nxt, F.col("mxd")), F.col("o_orderdate"))
        .alias("duration"),
        F.when(nxt.isNull(), 0).otherwise(1).alias("event"),
    )
    g = gaps.groupBy("duration").agg(
        F.sum("event").alias("d"),
        F.sum(1 - F.col("event")).alias("c"),
    )
    # day-grain KM table: every window below is calendar-bounded
    wall = Window.partitionBy()
    wb = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.select(
        "duration", "d", "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(wb), F.lit(0)
            )
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = F.col("d").cast("double")
    s = r.select(
        "duration", "d", "c", "n_risk",
        F.sum(
            F.when(
                F.col("d") < F.col("n_risk"),
                F.log(1.0 - dd / F.col("n_risk")),
            ).otherwise(0.0)
        ).over(wcum).alias("lsum"),
        F.max(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        ).over(wcum).alias("died_out"),
    )
    return s.select(
        F.col("duration").cast("bigint").alias("duration_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        F.round(
            F.when(F.col("died_out") == 1, 0.0).otherwise(F.exp("lsum")), 6
        ).alias("survival"),
    )


@register(
    "events_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d
    JOIN ud u
      ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
    GROUP BY d.day
    """,
)
def events_rolling_wau_q(spark, sf_dir):
    """Rolling 7-day distinct active users per day (the WAU curve every
    product dashboard carries — and the one rolling metric a plain
    window CANNOT express, because COUNT(DISTINCT) over a moving frame
    is not decomposable): user-day dedup first (the grain drop that
    makes everything after cheap), then each user-day feeds the ≤7
    calendar days it keeps active via a bounded range join against the
    day spine, then one distinct-count per day.  Exact, not sketched —
    the HLL-mergeable variant is [sketch_hyperloglog_dense]'s register
    algebra.  Scale: fan-out is a constant 7; the join keys on day
    (the spine side is calendar-bounded, AQE broadcasts it unhinted);
    the final agg is day-grain."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct().withColumnRenamed("day", "d")
    j = ud.join(
        days,
        (F.col("day") <= F.col("d"))
        & (F.col("day") >= F.date_sub(F.col("d"), 6)),
    )
    return j.groupBy(F.col("d").cast("string").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("active_7d")
    )


@register(
    "sketch_theta_intersection",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events WHERE event_type IN ('view', 'purchase')
    ), n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd FROM h GROUP BY 1
    ), keep AS (
      SELECT h.event_type, h.hv,
             row_number() OVER (PARTITION BY h.event_type
                                ORDER BY h.hv) AS rk
      FROM h JOIN n ON h.event_type = n.event_type
      WHERE h.hv < CAST(ceil(CAST(1024.0 AS DOUBLE)
                        * CAST(4503599627370496.0 AS DOUBLE) / n.nd)
                        AS BIGINT)
    ), sk AS (
      SELECT event_type, hv FROM keep WHERE rk <= 256
    ), theta AS (
      SELECT CAST(least(
               max(CASE WHEN event_type = 'view' THEN hv END),
               max(CASE WHEN event_type = 'purchase' THEN hv END))
             AS BIGINT) AS th
      FROM sk
    )
    SELECT th AS theta,
           CAST(COUNT(*) AS BIGINT) AS matched,
           round(COUNT(*) * CAST(4503599627370496.0 AS DOUBLE) / th, 4)
             AS est_intersection
    FROM (SELECT a.hv, (SELECT th FROM theta) AS th
          FROM (SELECT hv FROM sk WHERE event_type = 'view') a
          JOIN (SELECT hv FROM sk WHERE event_type = 'purchase') b
            ON a.hv = b.hv) m
    WHERE hv < th
    GROUP BY th
    """,
)
def sketch_theta_intersection_q(spark, sf_dir):
    """Theta-sketch SET INTERSECTION estimate (the KMV/theta algebra of
    Dasgupta et al. / Apache DataSketches — the sketch family's set
    OPERATIONS, which HLL cannot do: |view-users ∩ purchase-users|
    from two 256-hash sketches, value-oracled because BOTH engines
    build the identical md5-derived 52-bit hash space):

    - per set, the 256 SMALLEST distinct hashes — found WITHOUT a
      per-set global sort: the exact distinct count n bounds the k-th
      smallest hash by τ = ⌈4k/n · 2⁵²⌉ w.h.p., so a pushdown filter
      keeps ~4k rows per set and the rank window sorts only those
      (the candidate-slice idiom from the exact-median two-pass);
    - θ = min of the two sketches' max retained hash;
    - estimate = |matching hashes < θ| · 2⁵² / θ.

    Everything before the final division is exact integer algebra;
    both engines compute the same sketch, same θ, same match set.
    Scale: distinct + count per set (hash aggs), one bounded filter,
    a ≤k×k equi-join on hash — the mergeable-sketch shape (per-shard
    sketches union by keeping the k smallest of the union)."""
    two = F.lit(4503599627370496.0)  # 2^52
    h = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                16, 10,
            ).cast("bigint").alias("hv"),
        )
        .distinct()
    )
    n = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("nd"))
    tau = F.ceil(F.lit(1024.0) * two / F.col("nd")).cast("bigint")
    keep = h.join(n, "event_type").filter(F.col("hv") < tau)
    wk = Window.partitionBy("event_type").orderBy("hv")
    sk = keep.select(
        "event_type", "hv", F.row_number().over(wk).alias("rk")
    ).filter(F.col("rk") <= 256)
    theta = sk.groupBy().agg(
        F.least(
            F.max(F.when(F.col("event_type") == "view", F.col("hv"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("hv"))),
        ).cast("bigint").alias("th")
    )
    a = sk.filter(F.col("event_type") == "view").select("hv")
    b = sk.filter(F.col("event_type") == "purchase").select(
        F.col("hv").alias("hvb")
    )
    m = a.join(b, a["hv"] == b["hvb"]).join(F.broadcast(theta)).filter(
        F.col("hv") < F.col("th")
    )
    return m.groupBy("th").agg(
        F.count(F.lit(1)).cast("bigint").alias("matched"),
        F.round(F.count(F.lit(1)) * two / F.col("th"), 4)
        .alias("est_intersection"),
    ).select(
        F.col("th").alias("theta"), "matched", "est_intersection"
    )


@register(
    "multimodal_image_png_meta",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(8 + doc_id % 24 AS INT) AS height,
           CAST(8 AS INT) AS bit_depth,
           CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END
                AS INT) AS color_type,
           CAST(3 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_chunks,
           CAST((8 + doc_id % 24)
                * (1 + (16 + doc_id % 48)
                       * CASE doc_id % 3 WHEN 0 THEN 1
                                         WHEN 1 THEN 3 ELSE 4 END)
                AS BIGINT) AS idat_raw_bytes
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_image_png_q(spark, sf_dir):
    """REAL PNG chunk walk, value-oracled (ISO 15948 — the web's
    lossless format, completing the image-container row next to TIFF/
    JPEG/GIF): spec-valid PNGs are built executor-side
    (llm/multimodal.encode_png_skeleton — signature, IHDR, alternating tEXt,
    one zlib IDAT of filter-0 scanlines, IEND, REAL CRC-32 on every
    chunk), then parse_png_metadata walks the chunks back out,
    VERIFIES every CRC, and inflates the IDAT stream — the oracle's
    ``idat_raw_bytes`` is the decompressed scanline length
    height·(1+width·channels), so a zlib-layer or filter-byte bug
    breaks every row, not just a header field.  Grayscale/RGB/RGBA
    cycle per doc (channel arithmetic is the per-row variance);
    checksum-broken payloads drop as undecodable.  Arrow-batched
    row maps both ways; pixel SEMANTICS (beyond the deterministic
    pattern) remain the documented learned-decode seam."""
    from apache_nifi_spark.llm import (
        decode_image_png_meta,
        encode_png_skeleton,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def synth(d):
        yield d, encode_png_skeleton(
            width=16 + d % 48,
            height=8 + d % 24,
            color_type=[0, 2, 6][d % 3],
            doc_seed=d,
            with_text=(d % 2 == 0),
        )

    png = io.flat_map(base, ["doc_id"], synth, "doc_id long, content binary")
    return decode_image_png_meta(png)


@register(
    "stats_kendall_tau",
    oracle="""
    WITH g AS (
      SELECT l_quantity AS x, l_discount AS y,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM lineitem GROUP BY 1, 2
    ), pairs AS (
      SELECT a.m AS ma, b.m AS mb,
             CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1
                  WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN -1
                  ELSE 0 END AS sgn,
             CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty
      FROM g a JOIN g b
        ON (a.x, a.y) < (b.x, b.y)
    ), diag AS (
      SELECT CAST(SUM(m) AS DECIMAL(38,0)) AS n,
             CAST(SUM(m * (m - 1) / 2) AS DECIMAL(38,0)) AS txy
      FROM g
    ), s AS (
      SELECT CAST(SUM(sgn * CAST(ma AS DECIMAL(38,0)) * mb)
                  AS DECIMAL(38,0)) AS cd,
             CAST(SUM(tx * CAST(ma AS DECIMAL(38,0)) * mb)
                  AS DECIMAL(38,0)) AS tiex,
             CAST(SUM(ty * CAST(ma AS DECIMAL(38,0)) * mb)
                  AS DECIMAL(38,0)) AS tiey
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(cd AS DOUBLE)
                 / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2
                         - (CAST(tiex AS DOUBLE) + CAST(txy AS DOUBLE)))
                        * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2
                           - (CAST(tiey AS DOUBLE)
                              + CAST(txy AS DOUBLE)))),
                 6) AS kendall_tau_b
    FROM s, diag
    """,
)
def stats_kendall_tau_q(spark, sf_dir):
    """Kendall's τ-b rank correlation (quantity vs discount — the
    concordance companion to [stats_spearman_rank]: τ reads as a
    probability of agreement and is the estimator of choice under
    heavy ties), computed at VALUE-GRID grain: both columns are
    low-cardinality (≈50 × 11 distinct values), so concordant/
    discordant/tied pair counts collapse to one self-join over the
    ≤550-row value grid — control-plane work after a single
    map-side-combinable agg; the row-pair count n(n−1)/2 never
    materializes.  Products run ma·mb in DECIMAL(38,0) (exact,
    order-free); within-cell ties Σm(m−1)/2 join the tie terms exactly
    (they count in BOTH tie corrections of the τ-b denominator); one
    shared IEEE closed form, 6 dp.  The grid self-join is the
    documented cardinality precondition — for a row-distinct column
    pair the Spearman bucket machinery is the right tool instead."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
    )
    g = li.groupBy("x", "y").agg(F.count(F.lit(1)).alias("m"))
    a = g.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("m").alias("ma")
    )
    b = g.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("m").alias("mb")
    )
    pairs = a.join(
        b,
        (F.col("xa") < F.col("xb"))
        | ((F.col("xa") == F.col("xb")) & (F.col("ya") < F.col("yb"))),
    )
    sgn = (
        F.when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb"))),
            1,
        )
        .when(
            ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
            | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb"))),
            -1,
        )
        .otherwise(0)
    )
    tx = F.when(
        (F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1
    ).otherwise(0)
    ty = F.when(
        (F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1
    ).otherwise(0)
    mm_ = F.col("ma").cast("decimal(38,0)") * F.col("mb")
    s = pairs.agg(
        F.sum(sgn * mm_).cast("decimal(38,0)").alias("cd"),
        F.sum(tx * mm_).cast("decimal(38,0)").alias("tiex"),
        F.sum(ty * mm_).cast("decimal(38,0)").alias("tiey"),
    )
    diag = g.agg(
        F.sum("m").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("m") * (F.col("m") - 1) / 2)
        .cast("decimal(38,0)")
        .alias("txy"),
    )
    j = s.join(F.broadcast(diag))
    nd = F.col("n").cast("double")
    half = nd * (nd - 1) / 2
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("cd").cast("double")
            / F.sqrt(
                (half - (F.col("tiex").cast("double")
                         + F.col("txy").cast("double")))
                * (half - (F.col("tiey").cast("double")
                           + F.col("txy").cast("double")))
            ),
            6,
        ).alias("kendall_tau_b"),
    )


@register(
    "stats_wilson_ci",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS k
      FROM orders GROUP BY 1
    )
    SELECT grp, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           round(((CAST(k AS DOUBLE) / n)
                  + 1.959964 * 1.959964 / (2.0 * n)
                  - 1.959964 * sqrt(((CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n)
                        + 1.959964 * 1.959964 / (4.0 * n)) / n))
                 / (1.0 + 1.959964 * 1.959964 / n), 6) AS ci_lo,
           round(((CAST(k AS DOUBLE) / n)
                  + 1.959964 * 1.959964 / (2.0 * n)
                  + 1.959964 * sqrt(((CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n)
                        + 1.959964 * 1.959964 / (4.0 * n)) / n))
                 / (1.0 + 1.959964 * 1.959964 / n), 6) AS ci_hi
    FROM g
    """,
)
def stats_wilson_ci_q(spark, sf_dir):
    """Wilson score 95 % confidence interval for a per-group proportion
    (share of FINISHED orders per priority — the interval the
    rate-dashboard next to [stats_ab_test_ztest] should draw: unlike
    the Wald interval it never leaves [0,1] and stays calibrated at
    small n or extreme p): one map-side-combinable agg to group grain,
    then the closed-form score interval
    (p̂ + z²/2n ± z·√((p̂(1−p̂) + z²/4n)/n)) / (1 + z²/n) with
    z = 1.959964 as a shared literal — every float op in ONE identical
    expression shape both engines, rounded 6 dp."""
    z = F.lit(1.959964)
    g = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("k"),
    )
    n = F.col("n")
    p = F.col("k").cast("double") / n
    zz = z * z
    centre = p + zz / (2.0 * n)
    spread = z * F.sqrt((p * (1.0 - p) + zz / (4.0 * n)) / n)
    denom = 1.0 + zz / n
    return g.select(
        "grp",
        n.cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(p, 6).alias("p_hat"),
        F.round((centre - spread) / denom, 6).alias("ci_lo"),
        F.round((centre + spread) / denom, 6).alias("ci_hi"),
    )


def _textrank_oracle(iters: int = 3, min_freq: int = 30) -> str:
    """Unrolled integer-exact TextRank twin of the Spark query below:
    same tokenizer, same ±2 co-occurrence window over the freq-capped
    vocab, same (r·85) // (100·deg) integer PageRank rounds as
    registry._pagerank_oracle — node type string."""
    blocks = [
        f"""tk AS MATERIALIZED (
      SELECT doc_id, tok, ord FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok,
               generate_subscripts(
                 regexp_split_to_array(lower(text), '[^a-z]+'), 1) AS ord
        FROM documents
      ) WHERE tok <> ''
    ),
    vocab AS (SELECT tok FROM tk GROUP BY tok
              HAVING COUNT(*) >= {min_freq}),
    tv AS (SELECT tk.doc_id, tk.tok, tk.ord
           FROM tk JOIN vocab USING (tok)),
    pr AS (
      SELECT a.tok AS s, b.tok AS d
      FROM tv a JOIN tv b
        ON a.doc_id = b.doc_id
       AND b.ord > a.ord AND b.ord <= a.ord + 2
       AND a.tok <> b.tok
    ),
    e AS MATERIALIZED (
      SELECT s, d, CAST(COUNT(*) AS BIGINT) AS w FROM (
        SELECT s, d FROM pr UNION ALL SELECT d AS s, s AS d FROM pr
      ) GROUP BY s, d HAVING COUNT(*) >= 2
    ),
    deg AS (SELECT s, CAST(SUM(w) AS BIGINT) AS dg FROM e GROUP BY s),
    nodes AS (SELECT DISTINCT x AS n_ FROM
              (SELECT s AS x FROM e UNION ALL SELECT d FROM e)),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                 CAST(1000000 // COUNT(*) AS BIGINT) AS init,
                 CAST((1000000 * 15) // (100 * COUNT(*)) AS BIGINT) AS b
          FROM nodes),
    r0 AS (SELECT n_, init AS r FROM nodes, k)"""
    ]
    for t in range(1, iters + 1):
        blocks.append(
            f"""c{t} AS (
      SELECT e.d AS n_,
             CAST(SUM(e.w * ((r.r * 85) // (100 * deg.dg))) AS BIGINT)
               AS inn
      FROM e JOIN deg ON deg.s = e.s JOIN r{t - 1} r ON r.n_ = e.s
      GROUP BY e.d
    ),
    r{t} AS (
      SELECT nodes.n_,
             CAST(k.b + COALESCE(c.inn, 0) AS BIGINT) AS r
      FROM nodes LEFT JOIN c{t} c ON c.n_ = nodes.n_, k
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT n_ AS token, r AS rank,
           CAST(r AS DOUBLE) / 1000000.0 AS rank_frac
    FROM r{iters}"""
    )


@register("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords_q(spark, sf_dir):
    """TextRank keyword scoring (Mihalcea & Tarau 2004 — the
    graph-centrality keyword extractor next to the frequency-family
    [text_rake_keywords] / [text_tfidf_keywords]: a term matters
    because IMPORTANT terms co-occur with it, not because it is
    frequent): tokens co-occurring within a ±2 window form an
    undirected multigraph over the freq≥30-capped vocabulary
    (Heaps-bounded — the PMI precedent), scored by three rounds of the
    repo's integer-exact fixed-point PageRank (llm/graph.py), so the
    unrolled SQL twin replays every round bit-for-bit.  Scale shape:
    tokenize is one projection; the window join is an equi-join on
    doc_id with a ±2 ordinal band (fan-out ≤ 2 per token); the vocab
    cap bounds the graph; PageRank rounds are one join + one
    map-side-combined agg each.  At 100 TB the pair join keys on
    (doc, token-position block) — never all-pairs."""
    from apache_nifi_spark.llm.graph import pagerank_fixed_point

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tk = (
        d.select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("ord", "tok"),
        )
        .filter(F.col("tok") != "")
    )
    vocab = tk.groupBy("tok").agg(F.count(F.lit(1)).alias("freq")).filter(
        F.col("freq") >= 30
    ).select("tok")
    tv = tk.join(vocab, "tok").select("doc_id", "tok", "ord")
    # ±2 window via LEAD over (doc_id, ord) — ordinals are distinct per
    # doc, so the only candidates within +2 of a token are its next TWO
    # vocab successors; one partitioned window replaces the r15 shifted
    # equi-join (same edge set, measured 9.7→3.5 s at sf1 for the edge
    # build).  A coarse doc_id join + band filter stays banned — that
    # shape is doc-quadratic.
    win = Window.partitionBy("doc_id").orderBy("ord")
    x = tv.select(
        "tok",
        "ord",
        F.lead("tok", 1).over(win).alias("t1"),
        F.lead("ord", 1).over(win).alias("o1"),
        F.lead("tok", 2).over(win).alias("t2"),
        F.lead("ord", 2).over(win).alias("o2"),
    )
    pr = (
        x.select(
            F.col("tok").alias("s"),
            F.explode(
                F.array(
                    F.when(F.col("o1") - F.col("ord") <= 2, F.col("t1")),
                    F.when(F.col("o2") - F.col("ord") <= 2, F.col("t2")),
                )
            ).alias("d"),
        )
        .filter(F.col("d").isNotNull() & (F.col("s") != F.col("d")))
    )
    # Collapse the co-occurrence multigraph to a WEIGHTED edge list and
    # prune singleton co-occurrences (w < 2) before the PageRank
    # rounds: the unbounded multigraph was the suite's top wall (4.7 s
    # sf0.1 / 22.6 s sf1) and weight-1 edges are chance pairings, not
    # collocation signal.  Weighted PageRank is bit-exact with the
    # multigraph on the surviving edges (w parallel links = w · the
    # same floored share), so the SQL twin prunes identically.
    edges = (
        pr.select("s", "d")
        .unionAll(pr.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    out = pagerank_fixed_point(edges, "s", "d", iters=3, weight_col="w")
    return out.select(F.col("node").alias("token"), "rank", "rank_frac")


def _adpcm_oracle() -> str:
    """Recursive-CTE twin of llm/multimodal.ima_adpcm_decode: the same
    step/index tables and clamp algebra, advanced one sample per
    recursion level for every doc at once — the decode recurrence
    replayed in SQL, integer-exact."""
    from apache_nifi_spark.llm.multimodal import _IMA_STEPS

    vals = ",".join(f"({i},{s})" for i, s in enumerate(_IMA_STEPS))
    return f"""
    WITH RECURSIVE p AS (
      SELECT doc_id, CAST(12 + doc_id % 28 AS INT) AS n
      FROM documents WHERE doc_id < 250
    ), steps(idx, step) AS (VALUES {vals}),
    st AS (
      SELECT doc_id, n, -1 AS k, 0 AS pred, 0 AS sidx,
             CAST(0 AS BIGINT) AS sum_amp, CAST(0 AS BIGINT) AS sumsq,
             0 AS peak
      FROM p
      UNION ALL
      SELECT doc_id, n, k,
             greatest(-32768, least(32767, raw)) AS pred,
             greatest(0, least(88, sidx
               + CASE code % 8 WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                               WHEN 7 THEN 8 ELSE -1 END)) AS sidx,
             sum_amp + greatest(-32768, least(32767, raw)),
             sumsq + CAST(greatest(-32768, least(32767, raw)) AS BIGINT)
                   * greatest(-32768, least(32767, raw)),
             greatest(peak, abs(greatest(-32768, least(32767, raw))))
      FROM (
        SELECT doc_id, n, k, sidx, code, sum_amp, sumsq, peak,
               CASE WHEN code >= 8 THEN pred - diff ELSE pred + diff END
                 AS raw
        FROM (
          SELECT s.doc_id, s.n, s.k + 1 AS k, s.sidx, s.pred,
                 s.sum_amp, s.sumsq, s.peak, c.code,
                 steps.step // 8
                 + CASE WHEN (c.code // 4) % 2 = 1
                        THEN steps.step ELSE 0 END
                 + CASE WHEN (c.code // 2) % 2 = 1
                        THEN steps.step // 2 ELSE 0 END
                 + CASE WHEN c.code % 2 = 1
                        THEN steps.step // 4 ELSE 0 END AS diff
          FROM st s
          JOIN steps ON steps.idx = s.sidx,
          LATERAL (SELECT CASE WHEN (s.k + 1) % 2 = 0
                     THEN ((s.doc_id * 13 + 7 * ((s.k + 1) // 2)) % 256)
                          % 16
                     ELSE ((s.doc_id * 13 + 7 * ((s.k + 1) // 2)) % 256)
                          // 16
                   END AS code) c
          WHERE s.k + 1 < s.n
        )
      )
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples, sum_amp,
           sumsq AS sumsq_amp, CAST(peak AS INT) AS peak_amp
    FROM st WHERE k = n - 1
    """


@register("multimodal_audio_adpcm", oracle=_adpcm_oracle())
def multimodal_audio_adpcm_q(spark, sf_dir):
    """IMA/DVI ADPCM 4-bit audio DECODE (IMA Digital Audio Pack 1992 —
    the first PREDICTIVE codec in the audio tier: unlike the G.711 row
    each sample depends on the full decode state before it, so a
    single wrong step-table read corrupts every later sample):
    deterministic nibble streams synthesize executor-side, decode
    through the real step/index adaptation with int16 clamping
    (llm/multimodal.ima_adpcm_decode), and reduce to exact integer
    stats.  The oracle replays the SAME recurrence as a recursive CTE
    over the shared step table — sample-exact equality across ~40
    adaptation steps is the proof the state machine is right.
    Map-only, Arrow-batched; MDCT codecs (MP3/AAC payloads) remain the
    documented external seam."""
    from apache_nifi_spark.llm import ima_adpcm_decode

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id")
    )

    def synth(d):
        n = 12 + d % 28
        payload = bytes((d * 13 + 7 * j) % 256 for j in range((n + 1) // 2))
        dec = ima_adpcm_decode(payload, n)
        yield (d, n, sum(dec), sum(x * x for x in dec),
               max(abs(x) for x in dec))

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, n_samples long, sum_amp long, sumsq_amp long,"
        " peak_amp int",
    )


def _markov_stationary_oracle(iters: int = 3) -> str:
    """Unrolled integer-exact power iteration to the Markov chain's
    stationary distribution over the event-type transition counts —
    the same (π·n) // tot fixed-point arithmetic as the Spark query,
    replayed round by round."""
    blocks = [
        """o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tc AS (
      SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS t FROM tc GROUP BY 1),
    states AS (SELECT DISTINCT cur AS s FROM tc),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                 CAST(1000000 // COUNT(*) AS BIGINT) AS init
          FROM states),
    p0 AS (SELECT s, init AS pi FROM states, k)"""
    ]
    for t in range(1, iters + 1):
        blocks.append(
            f"""p{t} AS (
      SELECT tc.nxt AS s,
             CAST(SUM((p.pi * tc.n) // tot.t) AS BIGINT) AS pi
      FROM tc JOIN tot ON tot.cur = tc.cur
              JOIN p{t - 1} p ON p.s = tc.cur
      GROUP BY tc.nxt
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT s AS state, pi AS pi_fixed,
           CAST(pi AS DOUBLE) / 1000000.0 AS pi_frac
    FROM p{iters}"""
    )


@register("events_markov_stationary", oracle=_markov_stationary_oracle())
def events_markov_stationary_q(spark, sf_dir):
    """Stationary distribution of the user-journey Markov chain (where
    the [events_transition_matrix] settles — the long-run share of
    attention each event type holds, the PageRank of the journey
    graph): three rounds of integer-exact power iteration
    π′(j) = Σᵢ (π(i)·n_ij) div totᵢ at 1e-6 fixed-point scale (the
    PageRank discipline: partition order cannot move a bit, so the
    unrolled SQL twin replays every round exactly).  The chain state
    space is |event types| — everything after the lead() pairing and
    one count agg is control-plane."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tc = (
        o.groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        # |types|²-row chain matrix: pin it so the three power
        # iterations never replay the event-grain lead() window
        .localCheckpoint(eager=False)
    )
    tot = tc.groupBy("cur").agg(F.sum("n").alias("t"))
    states = tc.select(F.col("cur").alias("s")).distinct()
    k = states.count()  # control-plane: |event types|
    pi = states.select("s", F.lit(1_000_000 // k).cast("bigint").alias("pi"))
    tj = tc.join(tot, "cur")
    for _ in range(3):
        pi = (
            tj.join(pi.withColumnRenamed("s", "cur"), "cur")
            .select(
                F.col("nxt").alias("s"),
                F.expr("(pi * n) div t").alias("c"),
            )
            .groupBy("s")
            .agg(F.sum("c").cast("bigint").alias("pi"))
        )
    return pi.select(
        F.col("s").alias("state"),
        F.col("pi").alias("pi_fixed"),
        (F.col("pi").cast("double") / 1e6).alias("pi_frac"),
    )


@register(
    "hypertable_time_weighted_avg",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(value AS DOUBLE) AS v,
             CAST(epoch_us(ts) AS BIGINT) AS t,
             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))
                  AS BIGINT) AS t2
      FROM events WHERE user_id < 400
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(t2 - t) AS BIGINT) AS span_us,
           round(SUM(v * CAST(t2 - t AS DOUBLE))
                 / CAST(SUM(t2 - t) AS DOUBLE), 6) AS time_weighted_avg
    FROM o WHERE t2 IS NOT NULL
    GROUP BY user_id
    HAVING SUM(t2 - t) > 0
    """,
)
def hypertable_time_weighted_avg_q(spark, sf_dir):
    """time_weighted_average (TimescaleDB's irregular-sampling
    aggregate — the plain AVG over-weights burst periods when a sensor
    reports unevenly): per key, the LOCF step-function integral
    Σ vᵢ·(tᵢ₊₁−tᵢ) over the observed span, normalized by the span.
    One lead() under a per-user hash partitioning; interval widths are
    EXACT epoch-micro integers (the sum is order-free), so the only
    floats are the v·Δt products and one final division — summed in
    the same grouping both engines, rounded 6 dp.  Zero-span keys
    (single observation) drop, as the estimator is undefined there."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 400)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    t2 = F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
    o = ev.select(
        "user_id",
        F.col("value").cast("double").alias("v"),
        t.alias("t"),
        t2.alias("t2"),
    ).filter(F.col("t2").isNotNull())
    return (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(F.col("t2") - F.col("t")).cast("bigint").alias("span_us"),
            F.round(
                F.sum(F.col("v") * (F.col("t2") - F.col("t")).cast("double"))
                / F.sum(F.col("t2") - F.col("t")).cast("double"),
                6,
            ).alias("time_weighted_avg"),
        )
        .filter(F.col("span_us") > 0)
    )


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH first_m AS (
      SELECT o_custkey,
             date_trunc('month', min(o_orderdate)) AS cohort
      FROM orders GROUP BY 1
    ), rev AS (
      SELECT CAST(f.cohort AS VARCHAR) AS cohort,
             CAST(datediff('month', f.cohort,
                           date_trunc('month', o.o_orderdate)) AS INT)
               AS month_offset,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2)))
                  AS DECIMAL(38,2)) AS revenue,
             CAST(max(c.n) AS BIGINT) AS cohort_size
      FROM orders o
      JOIN first_m f ON o.o_custkey = f.o_custkey
      JOIN (SELECT cohort, CAST(count(*) AS BIGINT) AS n
            FROM first_m GROUP BY 1) c ON c.cohort = f.cohort
      GROUP BY 1, 2
    )
    SELECT cohort, month_offset, cohort_size,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CAST(SUM(revenue) OVER (PARTITION BY cohort
                                         ORDER BY month_offset)
                      AS DOUBLE) / cohort_size, 6) AS cum_ltv_per_user
    FROM rev
    """,
)
def orders_cohort_ltv_q(spark, sf_dir):
    """Cohort lifetime-value curve (the REVENUE twin of
    [cohort_retention_curve] — what a subscription/commerce dashboard
    actually plots: cumulative revenue per acquired user by month
    offset since acquisition): first-order month per customer, exact
    DECIMAL revenue to (cohort, offset) grain, then one cumulative
    window PARTITIONED BY COHORT over the month-offset axis
    (calendar-bounded — never a data-grain sort) divided by the cohort
    population.  Decimal sums are order-free; the two float ops
    (division, round) are shared shapes."""
    o = _t(spark, sf_dir, "orders")
    first_m = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sizes = first_m.groupBy("cohort").agg(F.count(F.lit(1)).alias("n"))
    rev = (
        o.join(first_m, "o_custkey")
        .join(sizes, "cohort")
        .groupBy(
            F.col("cohort").cast("date").cast("string").alias("cohort_s"),
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
            ).cast("int").alias("month_offset"),
        )
        .agg(
            exact.sum_scaled("o_totalprice", 2).alias("revenue"),
            F.max("n").cast("bigint").alias("cohort_size"),
        )
    )
    wc = Window.partitionBy("cohort_s").orderBy("month_offset")
    return rev.select(
        F.col("cohort_s").alias("cohort"),
        "month_offset",
        "cohort_size",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.sum("revenue").over(
                wc.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("double")
            / F.col("cohort_size"),
            6,
        ).alias("cum_ltv_per_user"),
    )


@register(
    "forecast_theil_sen_trend",
    oracle="""
    WITH m AS (
      SELECT CAST(datediff('month', DATE '1992-01-01',
                           date_trunc('month', o_orderdate)) AS BIGINT)
               AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DECIMAL(38,0)) AS yc
      FROM orders GROUP BY 1
    ), slopes AS (
      SELECT (CAST(b.yc AS DOUBLE) - CAST(a.yc AS DOUBLE))
             / (100.0 * (b.x - a.x)) AS slope
      FROM m a JOIN m b ON a.x < b.x
    ), r AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS c
      FROM slopes
    )
    SELECT CAST(max(c) AS BIGINT) AS n_slopes,
           round(avg(slope), 6) AS theil_sen_slope
    FROM r
    WHERE rk IN ((c + 1) // 2, (c + 2) // 2)
    """,
)
def forecast_theil_sen_trend_q(spark, sf_dir):
    """Theil–Sen robust trend estimator over monthly revenue (Sen 1968
    — the median of all pairwise slopes: up to ~29 % of months can be
    corrupted outliers without moving it, where [stats_ols_regression]
    follows every spike): month-grain integer-cent revenue (one agg),
    then all C(months,2) pairwise slopes — a self-join of the
    CALENDAR-BOUNDED month frame (≈84 rows → ≈3.5 k slopes,
    control-plane) — and the exact median by rank selection (both
    middle ranks averaged on even counts; equal slope VALUES make any
    tie order irrelevant to the selected values).  Month indices and
    cent sums are exact integers; each slope is one shared float
    division, the median one shared avg, rounded 6 dp."""
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")),
                F.lit("1992-01-01").cast("date"),
            ).cast("bigint").alias("x")
        )
        .agg(F.sum(cents).cast("decimal(38,0)").alias("yc"))
    )
    a = m.select(F.col("x").alias("xa"), F.col("yc").alias("ya"))
    b = m.select(F.col("x").alias("xb"), F.col("yc").alias("yb"))
    slopes = a.join(b, F.col("xa") < F.col("xb")).select(
        (
            (F.col("yb").cast("double") - F.col("ya").cast("double"))
            / (100.0 * (F.col("xb") - F.col("xa")))
        ).alias("slope")
    )
    # month-pair grain: calendar-bounded (≈3.5k rows), never data-grain
    wr = Window.orderBy("slope")
    r = slopes.select(
        "slope",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
    )
    mid = r.filter(
        (F.col("rk") == F.floor((F.col("c") + 1) / 2))
        | (F.col("rk") == F.floor((F.col("c") + 2) / 2))
    )
    return mid.agg(
        F.max("c").cast("bigint").alias("n_slopes"),
        F.round(F.avg("slope"), 6).alias("theil_sen_slope"),
    )


@register(
    "search_ndcg_eval",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(
               list_filter(regexp_split_to_array(lower(text),
                                                 '[^a-z0-9'']+'),
                           x -> x != '')) AS token
      FROM documents WHERE doc_id < 600
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM tok GROUP BY 1
    ), st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dlen) AS BIGINT) AS total_len
      FROM dl
    ), q AS (SELECT unnest(['data', 'spark', 'pipeline']) AS token),
    tf AS (
      SELECT t.doc_id, t.token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN q ON q.token = t.token GROUP BY 1, 2
    ), df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dlen AS DOUBLE)
                                  * CAST(n_docs AS DOUBLE)
                                  / CAST(total_len AS DOUBLE)))
               AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS score,
             CAST(COUNT(*) AS INT) AS rel
      FROM tf JOIN df ON df.token = tf.token
             JOIN dl ON dl.doc_id = tf.doc_id, st
      GROUP BY tf.doc_id
    ), ranked AS (
      SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id) AS i
      FROM scored
    ), ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, 1) AS i
      FROM scored
    ), dcg AS (
      SELECT SUM((pow(2.0, rel) - 1.0) / (ln(i + 1.0) / ln(2.0)))
               AS dcg
      FROM ranked WHERE i <= 10
    ), idcg AS (
      SELECT SUM((pow(2.0, rel) - 1.0) / (ln(i + 1.0) / ln(2.0)))
               AS idcg
      FROM ideal WHERE i <= 10
    )
    SELECT CAST((SELECT COUNT(*) FROM scored) AS BIGINT) AS n_candidates,
           round(dcg, 6) AS dcg_10,
           round(idcg, 6) AS idcg_10,
           round(dcg / idcg, 6) AS ndcg_10
    FROM dcg, idcg
    """,
)
def search_ndcg_eval_q(spark, sf_dir):
    """NDCG@10 retrieval evaluation (Järvelin & Kekäläinen 2002 — the
    metric that closes the search tier: [inverted_index_postings]
    builds the index, [search_bm25_scores] ranks, THIS grades the
    ranking): documents scored by summed BM25 over the 3-term query —
    per-term scores pinned to DECIMAL(28,9) so the query-level sum is
    order-free and the ranking is deterministic under (score, doc_id)
    — with graded relevance = distinct query terms matched.  DCG@10
    uses the standard (2^rel − 1)/log₂(i+1) gains against the ideal
    ordering.  Scale: candidate generation and scoring are the BM25
    shapes; both cut-offs are ``orderBy().limit(10)`` —
    Spark's distributed TakeOrdered (per-partition top-k + merge,
    never a single-task sort) — with positions assigned by a window
    over the already-limited 10-row frames."""
    d = io.widen_if_narrow(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 600)
        .select("doc_id", "text")
    )
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9']+", -1),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dlen").alias("total_len"),
    )
    q = F.array([F.lit(t) for t in ("data", "spark", "pipeline")])
    tf = (
        tok.filter(F.array_contains(q, F.col("token")))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd = F.col("n_docs").cast("double")
    idf = F.log(
        (nd - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfd = F.col("tf").cast("double")
    norm = 1.2 * (
        0.25
        + 0.75 * F.col("dlen").cast("double") * nd
        / F.col("total_len").cast("double")
    )
    term = (idf * (tfd * 2.2) / (tfd + norm)).cast("decimal(28,9)")
    scored = (
        tf.join(df_, "token")
        .join(dl, "doc_id")
        .join(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.sum(term).cast("decimal(38,9)").alias("score"),
            F.count(F.lit(1)).cast("int").alias("rel"),
        )
    )
    # top-10 cutoffs: orderBy().limit() is Spark's distributed
    # TakeOrdered (per-partition top-10 + merge — never a single-task
    # sort of the candidate frame); the row_number windows below run
    # over the ALREADY-LIMITED 10-row frames
    wr = Window.orderBy(F.col("score").desc(), "doc_id")
    wi = Window.orderBy(F.col("rel").desc())
    gain = lambda i: (F.pow(2.0, F.col("rel")) - 1.0) / (
        F.log(i + 1.0) / F.log(F.lit(2.0))
    )
    ranked = (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .select("rel", F.row_number().over(wr).cast("double").alias("i"))
    )
    ideal = (
        scored.orderBy(F.col("rel").desc())
        .limit(10)
        .select("rel", F.row_number().over(wi).cast("double").alias("i"))
    )
    dcg = ranked.agg(F.sum(gain(F.col("i"))).alias("dcg"))
    idcg = ideal.agg(F.sum(gain(F.col("i"))).alias("idcg"))
    n_cand = scored.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        n_cand.join(F.broadcast(dcg)).join(F.broadcast(idcg)).select(
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.round("dcg", 6).alias("dcg_10"),
            F.round("idcg", 6).alias("idcg_10"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_10"),
        )
    )


@register(
    "hypertable_ohlc_candles",
    oracle="""
    WITH e AS (
      SELECT user_id % 8 AS series,
             date_trunc('day', ts) AS bucket,
             CAST(value AS DOUBLE) AS v,
             CAST(epoch_us(ts) AS HUGEINT) * 4294967296 + event_id AS k
      FROM events
    )
    SELECT series, CAST(bucket AS VARCHAR) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           min_by(v, k) AS open,
           CAST(max(v) AS DOUBLE) AS high,
           CAST(min(v) AS DOUBLE) AS low,
           max_by(v, k) AS close
    FROM e GROUP BY 1, 2
    """,
)
def hypertable_ohlc_candles_q(spark, sf_dir):
    """OHLC candlestick rollup (the ``ohlc()`` hyperfunction — the
    finance/monitoring downsample beside [hypertable_m4_downsample]:
    M4 keeps the extremes for PLOTTING, OHLC keeps first/last for
    DELTA semantics): per (series, day), open = value at the earliest
    (ts, event_id), close at the latest, high/low the extremes — one
    map-side-combinable agg via ``min_by``/``max_by`` with a composite
    deterministic tiebreak — the exact integer key
    micros·2³² + event_id (DECIMAL(38,0) / HUGEINT), so equal
    timestamps cannot flip the candle and no per-row string
    materializes.
    Values pass through as raw doubles (no arithmetic — selection
    aggregates are bit-exact by construction).  At 100 TB this is the
    continuous-aggregate leaf the rollup cascade
    [stream_hypertable_rollup] materializes."""
    ev = _t(spark, sf_dir, "events")
    key = (
        F.unix_micros(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
        * 4294967296
        + F.col("event_id")
    )
    v = F.col("value").cast("double")
    return (
        ev.select(
            (F.col("user_id") % 8).alias("series"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string")
            .alias("bucket"),
            v.alias("v"),
            key.alias("k"),
        )
        .groupBy("series", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("v", "k").alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max_by("v", "k").alias("close"),
        )
    )


def _kcore_oracle(k: int = 4, rounds: int = 8) -> str:
    """Unrolled peeling twin of llm/graph.kcore_membership over the
    customer→supplier link graph: ``rounds`` fixed deletion rounds —
    strictly more than the fixture's measured peeling depth, so the
    last rounds are no-ops and the result IS the fixpoint (a converged
    round changes nothing, making extra rounds idempotent)."""
    blocks = [
        """e0 AS MATERIALIZED (
      SELECT DISTINCT least(o_custkey, l_suppkey + 1000000) AS a,
             greatest(o_custkey, l_suppkey + 1000000) AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_orderkey % 17 = 0
    )"""
    ]
    for t in range(1, rounds + 1):
        blocks.append(
            f"""d{t} AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM (
        SELECT a AS n FROM e{t - 1}
        UNION ALL SELECT b FROM e{t - 1}
      ) GROUP BY n
    ),
    k{t} AS (SELECT n FROM d{t} WHERE dg >= {k}),
    e{t} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{t - 1} e
      JOIN k{t} ka ON ka.n = e.a
      JOIN k{t} kb ON kb.n = e.b
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree_in_core FROM (
      SELECT a AS n FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
    ) GROUP BY n"""
    )


@register("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership_q(spark, sf_dir):
    """Exact 4-CORE of the customer→supplier link graph (Seidman 1983
    — the graph-curation gate beside [graph_triangle_counts] and
    [graph_link_prediction]: the k-core of a near-dup cluster is its
    reliable center): synchronous peeling to the TRUE fixpoint — per
    round one degree agg over the shrinking undirected edge set and
    one semi-join filter, converged when a round deletes nothing (the
    driver reads only the per-round edge count; the components-
    fixpoint discipline).  The oracle unrolls MORE rounds than the
    fixture's peeling depth — converged rounds are idempotent, so its
    result is the same fixpoint.  llm/graph.kcore_membership."""
    from apache_nifi_spark.llm.graph import kcore_membership

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 17 == 0
    ).select("l_orderkey", "l_suppkey")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    )
    return kcore_membership(edges, k=4)


@register(
    "events_path_trigrams",
    oracle="""
    WITH o AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), t AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM o WHERE e3 IS NOT NULL GROUP BY 1
    )
    SELECT path, n,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
    FROM t WHERE n >= 20
    """,
)
def events_path_trigrams_q(spark, sf_dir):
    """Journey path trigrams (the Sankey/flow diagram behind every
    product-analytics funnel explorer — [events_transition_matrix] is
    its first-order marginal): per user, each event with its next two
    under ONE hash partitioning (both leads share the window frame),
    trigram counts map-side-combinable, share normalized over the
    |types|³-bounded trigram frame (control-plane window).  The n ≥ 20
    floor keeps the readout at dashboard grain; one float division,
    6 dp."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    t = o.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    return t.select(
        "path",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()),
            6,
        ).alias("share"),
    ).filter(F.col("n") >= 20)


@register(
    "multimodal_video_avi_meta",
    oracle="""
    SELECT doc_id,
           CAST(160 + 16 * (doc_id % 50) AS INT) AS width,
           CAST(120 + 8 * (doc_id % 40) AS INT) AS height,
           CAST(CASE doc_id % 3 WHEN 0 THEN 33333 WHEN 1 THEN 41708
                ELSE 16667 END AS BIGINT) AS fps_us,
           CAST(100 + doc_id % 900 AS BIGINT) AS total_frames,
           CAST(1 + doc_id % 2 AS INT) AS n_streams,
           CAST(3 + doc_id % 2 AS INT) AS n_lists
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_video_avi_q(spark, sf_dir):
    """RIFF/AVI container walk (the third video container beside
    MP4/ISO-BMFF and Matroska/WebM — AVI is what archival and capture
    pipelines still emit): spec-valid skeletons with the required hdrl
    LIST (avih main header + one strl per stream) and an empty movi
    LIST synthesize executor-side (llm/multimodal.encode_avi_skeleton),
    and the parser walks the nested LIST tree back out — dimensions,
    µs-per-frame (30/24/60 fps cycling), frame and stream counts, LIST
    census (3 + streams: hdrl, movi, strl×n).  Frame payloads stay the
    documented codec seam, as in every container row.  Arrow-batched
    row maps both ways; the oracle recomputes every field
    arithmetically."""
    from apache_nifi_spark.llm import encode_avi_skeleton, parse_avi_metadata

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def synth(d):
        blob = encode_avi_skeleton(
            width=160 + 16 * (d % 50),
            height=120 + 8 * (d % 40),
            fps_us=[33333, 41708, 16667][d % 3],
            total_frames=100 + d % 900,
            n_streams=1 + d % 2,
        )
        meta = parse_avi_metadata(blob)
        if meta is not None:
            yield d, *meta[:6]

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, width int, height int, fps_us long,"
        " total_frames long, n_streams int, n_lists int",
    )


def _mp2_oracle() -> str:
    """Closed-form SQL twin of llm/mp2.mp2_decode_stats: replays the
    same allocation/scalefactor/code formulas the encoder packs, then
    the identical Q20 requantization, Q14 matrixing and Q15 windowed
    overlap-add over the shared integer tables — every division
    sign-split on non-negative magnitudes so Python floor-div and
    DuckDB's truncating ``//`` agree bit-for-bit."""
    from apache_nifi_spark.llm.mp2 import mp2_closed_form_plan

    t = mp2_closed_form_plan()
    return f"""
    WITH p AS (SELECT doc_id AS d FROM documents WHERE doc_id < 48),
    sfs(idx, sf) AS (VALUES {t['sf']}),
    cosn(i, k, nv) AS (VALUES {t['cos']}),
    win(j, tp, wv) AS (VALUES {t['win']}),
    amap(ac, lv) AS (VALUES (0, 0), (1, 3), (2, 7), (3, 15)),
    s0 AS (
      SELECT p.d, tt.t, sb.sb, amap.lv, sfs.sf,
             2 * ((p.d * 7 + sb.sb * 13 + tt.t * 3) % amap.lv)
               - (amap.lv - 1) AS q
      FROM p,
           unnest(generate_series(0, 35)) tt(t),
           unnest(generate_series(0, 7)) sb(sb)
      JOIN amap ON amap.ac = (p.d + sb.sb) % 4
      JOIN sfs ON sfs.idx =
        (2 * p.d + 5 * sb.sb + 11 * ((tt.t // 3) // 4)) % 48
      WHERE amap.lv > 0
    ),
    s AS (
      SELECT d, t, sb,
             CASE WHEN q < 0 THEN -((-q * sf) // (lv - 1))
                  ELSE (q * sf) // (lv - 1) END AS sv
      FROM s0
    ),
    v AS (
      SELECT s.d, s.t, c.i, CAST(SUM(c.nv * s.sv) AS BIGINT) AS vv
      FROM s JOIN cosn c ON c.k = s.sb
      GROUP BY s.d, s.t, c.i
    ),
    g AS (
      SELECT p.d, tt.t, jj.j
      FROM p,
           unnest(generate_series(0, 35)) tt(t),
           unnest(generate_series(0, 31)) jj(j)
    ),
    o AS (
      SELECT g.d, g.t, g.j,
             CAST(SUM(win.wv * COALESCE(v.vv, 0)) AS BIGINT) AS acc
      FROM g
      JOIN win ON win.j = g.j
      LEFT JOIN v ON v.d = g.d AND v.t = g.t - win.tp
                 AND v.i = g.j + 32 * (win.tp % 2)
      GROUP BY g.d, g.t, g.j
    ),
    od AS (
      SELECT d,
             CASE WHEN acc < 0 THEN -((-acc) // {t['descale']})
                  ELSE acc // {t['descale']} END AS ov
      FROM o
    )
    SELECT d AS doc_id,
           CAST(CASE d % 3 WHEN 0 THEN 32 WHEN 1 THEN 48
                ELSE 56 END AS INT) AS bitrate_kbps,
           CAST(32000 AS INT) AS sample_rate_hz,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(ov) AS BIGINT) AS out_sum,
           CAST(MIN(ov) AS BIGINT) AS out_min,
           CAST(MAX(ov) AS BIGINT) AS out_max
    FROM od GROUP BY d
    """


@register("multimodal_audio_mp2", oracle=_mp2_oracle())
def multimodal_audio_mp2_q(spark, sf_dir):
    """MPEG-1 Audio LAYER II decode (ISO/IEC 11172-3 — the perceptual
    rung above [multimodal_audio_adpcm]: quantized SUBBAND coefficients
    that only become PCM through the 32-band polyphase synthesis
    filterbank): spec-valid single-channel frames synthesize
    executor-side (real 32-bit header with the Layer II bitrate/
    sample-rate tables, 2-bit allocations over the low-rate 8-subband
    region, scfsi, 6-bit Table-B.1 scalefactors, GROUPED base-3
    3-level codes and individual 3/4-bit codes), then decode back
    through the full bit-level parse, Q20 requantization, Q14 cosine
    matrixing and the 512-tap windowed overlap-add (the spec's X/U
    FIFO indexing reduced to out(t,j) = Σₚ W[j+32p]·V_{t−p}[j+32(p%2)])
    and reduce to exact integer stats.  The oracle replays the SAME
    integer pipeline from the closed-form frame content over the
    shared scalefactor/cosine/window tables — sample-exact equality
    across requantize→matrix→window is the proof the filterbank state
    machine is right.  Window coefficients are the documented
    deterministic stand-in for ISO Table 3-B.3 (llm/mp2.py module
    docstring); everything else is spec algebra.  Arrow-batched,
    map-only at any scale."""
    from apache_nifi_spark.llm.mp2 import (
        encode_mp2_frame,
        mp2_decode_stats,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 48)
        .select("doc_id")
    )

    def synth(d):
        yield d, *mp2_decode_stats(encode_mp2_frame(d))[:6]

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, bitrate_kbps int, sample_rate_hz int, "
        "n_samples bigint, out_sum bigint, out_min bigint, "
        "out_max bigint",
    )


def _hits_oracle(iters: int = 2) -> str:
    """Unrolled integer-exact HITS twin of llm/graph.hits_fixed_point
    over the customer→supplier link graph: the same exact bigint
    inbound sums and non-negative ``·10⁶ // L1-total`` normalizations
    per round — K CTE rounds replay the engine bit-for-bit."""
    blocks = [
        """e AS MATERIALIZED (
      SELECT o_custkey AS s, l_suppkey + 1000000 AS d
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_orderkey % 13 = 0
    ),
    hub0 AS (SELECT DISTINCT s FROM e),
    auth0 AS (SELECT DISTINCT d FROM e),
    h0 AS (SELECT s, CAST(1000000 AS BIGINT) AS h FROM hub0)"""
    ]
    for t in range(1, iters + 1):
        blocks.append(
            f"""ra{t} AS (
      SELECT e.d, CAST(SUM(h.h) AS BIGINT) AS ra
      FROM e JOIN h{t - 1} h ON h.s = e.s GROUP BY e.d
    ),
    ta{t} AS (SELECT CAST(SUM(ra) AS BIGINT) AS tt FROM ra{t}),
    a{t} AS (
      SELECT auth0.d,
             CAST(COALESCE(ra.ra, 0) * 1000000 // ta.tt AS BIGINT) AS a
      FROM auth0 LEFT JOIN ra{t} ra ON ra.d = auth0.d, ta{t} ta
    ),
    rh{t} AS (
      SELECT e.s, CAST(SUM(a.a) AS BIGINT) AS rh
      FROM e JOIN a{t} a ON a.d = e.d GROUP BY e.s
    ),
    th{t} AS (SELECT CAST(SUM(rh) AS BIGINT) AS tt FROM rh{t}),
    h{t} AS (
      SELECT hub0.s,
             CAST(COALESCE(rh.rh, 0) * 1000000 // th.tt AS BIGINT) AS h
      FROM hub0 LEFT JOIN rh{t} rh ON rh.s = hub0.s, th{t} th
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT s AS node, 'hub' AS side, h AS score,
           CAST(h AS DOUBLE) / 1000000.0 AS score_frac
    FROM h{iters}
    UNION ALL
    SELECT d AS node, 'authority' AS side, a AS score,
           CAST(a AS DOUBLE) / 1000000.0 AS score_frac
    FROM a{iters}"""
    )


@register("graph_hits_scores", oracle=_hits_oracle())
def graph_hits_q(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999 — the §2.12 graph
    tier's second centrality next to [graph_pagerank_links]: on a
    curation link graph the hub/authority split separates portal pages
    from content pages where PageRank conflates them): two rounds of
    integer-exact mutual reinforcement over the customer→supplier link
    multigraph, L1-normalized each half-round by a 1-row total
    broadcast (exact ``·10⁶ // Σ`` on non-negative bigints), so the
    unrolled SQL twin replays every round bit-for-bit.  Scale shape:
    edges pinned once; each half-round is one keyed join + one
    map-side-combined agg; the only keyless joins are the 1-row
    normalization totals.  llm/graph.py ``hits_fixed_point``."""
    from apache_nifi_spark.llm.graph import hits_fixed_point

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 13 == 0
    ).select("l_orderkey", "l_suppkey")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    )
    return hits_fixed_point(edges, "src", "dst", iters=2)


@register(
    "survival_nelson_aalen",
    oracle="""
    WITH cd AS (
      SELECT DISTINCT o_custkey, o_orderdate FROM orders
    ), mx AS (
      SELECT max(o_orderdate) AS mxd FROM cd
    ), gaps AS (
      SELECT datediff('day', o_orderdate,
                      coalesce(lead(o_orderdate) OVER (
                          PARTITION BY o_custkey ORDER BY o_orderdate),
                        (SELECT mxd FROM mx))) AS duration,
             CASE WHEN lead(o_orderdate) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate)
                  IS NULL THEN 0 ELSE 1 END AS event
      FROM cd
    ), g AS (
      SELECT duration,
             CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(1 - event) AS BIGINT) AS c
      FROM gaps GROUP BY 1
    ), r AS (
      SELECT duration, d, c,
             CAST(SUM(d + c) OVER () AS BIGINT)
               - CAST(coalesce(SUM(d + c) OVER (
                     ORDER BY duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS n_risk
      FROM g
    ), s AS (
      SELECT duration, d, c, n_risk,
             SUM(CAST(d AS DOUBLE) / n_risk)
               OVER (ORDER BY duration) AS hsum,
             SUM(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk))
               OVER (ORDER BY duration) AS vsum
      FROM r
    )
    SELECT duration AS duration_days, n_risk, d AS d_events,
           round(hsum, 6) AS cum_hazard,
           round(exp(-hsum), 6) AS na_survival,
           round(vsum, 6) AS hazard_var
    FROM s
    """,
)
def survival_nelson_aalen_q(spark, sf_dir):
    """Nelson–Aalen cumulative hazard over customer reorder gaps
    (Nelson 1972 / Aalen 1978 — the estimator PAIRED with
    [survival_kaplan_meier]: KM multiplies survival, NA sums hazard
    H(t) = Σ dᵢ/nᵢ, and exp(−H) is the Fleming–Harrington survival
    variant that stays defined where KM dies out; the per-increment
    variance Σ dᵢ/nᵢ² is the standard CI input): same per-customer
    lead() gaps, same day-grain risk sets by reverse cumulative count,
    then the hazard and its variance as cumulative float sums under
    ONE calendar-bounded window — identical expression shape both
    engines, 6 dp.  Scale: data-grain work is the distinct + keyed
    window; the NA table is day-grain, bounded by the calendar."""
    cd = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).distinct()
    mx = cd.agg(F.max("o_orderdate").alias("mxd"))
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = F.lead("o_orderdate").over(wc)
    gaps = cd.join(F.broadcast(mx)).select(
        F.datediff(F.coalesce(nxt, F.col("mxd")), F.col("o_orderdate"))
        .alias("duration"),
        F.when(nxt.isNull(), 0).otherwise(1).alias("event"),
    )
    g = gaps.groupBy("duration").agg(
        F.sum("event").alias("d"),
        F.sum(1 - F.col("event")).alias("c"),
    )
    # day-grain NA table: every window below is calendar-bounded
    wall = Window.partitionBy()
    wcum = Window.partitionBy().orderBy("duration")
    prev = Window.partitionBy().orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.select(
        "duration", "d", "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(prev), F.lit(0)
            )
        ).cast("bigint").alias("n_risk"),
    )
    nr = F.col("n_risk")
    s = r.select(
        "duration", "d", "n_risk",
        F.sum(F.col("d").cast("double") / nr).over(wcum).alias("hsum"),
        F.sum(
            F.col("d").cast("double") / (nr.cast("double") * nr)
        ).over(wcum).alias("vsum"),
    )
    return s.select(
        F.col("duration").cast("bigint").alias("duration_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.round(F.col("hsum"), 6).alias("cum_hazard"),
        F.round(F.exp(-F.col("hsum")), 6).alias("na_survival"),
        F.round(F.col("vsum"), 6).alias("hazard_var"),
    )


@register(
    "search_mrr_map_eval",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(
               list_filter(regexp_split_to_array(lower(text),
                                                 '[^a-z0-9'']+'),
                           x -> x != '')) AS token
      FROM documents WHERE doc_id < 600
    ), q AS (SELECT unnest(['data', 'spark', 'pipeline']) AS token),
    tf AS (
      SELECT t.token, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok t JOIN q ON q.token = t.token GROUP BY 1, 2
    ), rtot AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n_relevant
      FROM tf WHERE tf >= 2 GROUP BY token
    ), ranked AS (
      SELECT token, doc_id, tf,
             CASE WHEN tf >= 2 THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY token
                                ORDER BY tf DESC, doc_id) AS rn
      FROM tf
    ), top AS (
      SELECT token, rel, rn,
             CAST(SUM(rel) OVER (PARTITION BY token ORDER BY rn)
                  AS BIGINT) AS cumrel
      FROM ranked WHERE rn <= 10
    ), per AS (
      SELECT q.token,
             CAST(coalesce(rtot.n_relevant, 0) AS BIGINT) AS n_relevant,
             CAST(coalesce(MIN(CASE WHEN top.rel = 1 THEN top.rn END),
                           0) AS BIGINT) AS first_rel_rank,
             coalesce(SUM(CASE WHEN top.rel = 1
                 THEN CAST(top.cumrel AS DOUBLE) / top.rn END), 0.0)
               AS ap_num
      FROM q LEFT JOIN top ON top.token = q.token
             LEFT JOIN rtot ON rtot.token = q.token
      GROUP BY q.token, rtot.n_relevant
    ), scored AS (
      SELECT token, n_relevant, first_rel_rank,
             CASE WHEN first_rel_rank > 0
                  THEN 1.0 / first_rel_rank ELSE 0.0 END AS rr,
             CASE WHEN n_relevant > 0
                  THEN ap_num / LEAST(n_relevant, 10) ELSE 0.0 END AS ap
      FROM per
    )
    SELECT token, n_relevant, first_rel_rank,
           round(rr, 6) AS rr,
           round(ap, 6) AS ap_10,
           round(AVG(rr) OVER (), 6) AS mrr,
           round(AVG(ap) OVER (), 6) AS map_10
    FROM scored
    """,
)
def search_mrr_map_q(spark, sf_dir):
    """MRR and MAP@10 retrieval evaluation (the binary-relevance
    metrics beside [search_ndcg_eval]'s graded one — MRR grades the
    FIRST hit, MAP the whole precision profile; together they are the
    standard IR eval triple): three single-term queries rank documents
    by term frequency under a per-query top-10 window (PARTITIONED by
    query — never a global sort), binary relevance tf ≥ 2, reciprocal
    rank of the first relevant hit, and AP@10 = Σ_{rel k} P@k /
    min(R, 10) from an exact cumulative-relevant integer window; the
    per-query frame then averages to MRR/MAP under a wall window over
    the 3-row query spine.  Every float step is a shared-shape
    division of exact integers, 6 dp.  Scale: tokenize + one counting
    agg at (query, doc) grain; the ranking window partitions by query;
    everything after is query-grain control plane."""
    d = io.widen_if_narrow(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 600)
        .select("doc_id", "text")
    )
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9']+", -1),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    terms = ["data", "spark", "pipeline"]
    qf = spark.createDataFrame([(t,) for t in terms], "token string")
    tf = (
        tok.join(F.broadcast(qf), "token")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rtot = tf.filter(F.col("tf") >= 2).groupBy("token").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    wq = Window.partitionBy("token").orderBy(
        F.col("tf").desc(), "doc_id"
    )
    ranked = tf.select(
        "token",
        F.when(F.col("tf") >= 2, 1).otherwise(0).alias("rel"),
        F.row_number().over(wq).alias("rn"),
    )
    wcum = Window.partitionBy("token").orderBy("rn")
    top = ranked.filter(F.col("rn") <= 10).select(
        "token", "rel", "rn",
        F.sum("rel").over(wcum).cast("bigint").alias("cumrel"),
    )
    per = (
        qf.join(top, "token", "left")
        .join(rtot, "token", "left")
        .groupBy("token", "n_relevant")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
            ).cast("bigint").alias("first_rel_rank"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rel") == 1,
                        F.col("cumrel").cast("double") / F.col("rn"),
                    )
                ),
                F.lit(0.0),
            ).alias("ap_num"),
        )
        .select(
            "token",
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("bigint").alias("n_relevant"),
            "first_rel_rank", "ap_num",
        )
    )
    scored = per.select(
        "token", "n_relevant", "first_rel_rank",
        F.when(
            F.col("first_rel_rank") > 0,
            F.lit(1.0) / F.col("first_rel_rank"),
        ).otherwise(0.0).alias("rr"),
        F.when(
            F.col("n_relevant") > 0,
            F.col("ap_num") / F.least(F.col("n_relevant"), F.lit(10)),
        ).otherwise(0.0).alias("ap"),
    )
    wall = Window.partitionBy()  # 3-row query spine: control-plane
    return scored.select(
        "token", "n_relevant", "first_rel_rank",
        F.round("rr", 6).alias("rr"),
        F.round("ap", 6).alias("ap_10"),
        F.round(F.avg("rr").over(wall), 6).alias("mrr"),
        F.round(F.avg("ap").over(wall), 6).alias("map_10"),
    )


@register(
    "text_yule_k",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z]+'),
               x -> x != '')) AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS m FROM tok GROUP BY 1
    ), vm AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS v FROM freq GROUP BY 1
    ), st AS (
      SELECT CAST(SUM(m * v) AS BIGINT) AS n_tokens,
             CAST(SUM(v) AS BIGINT) AS n_types,
             CAST(SUM(m * m * v) AS BIGINT) AS s2,
             CAST(coalesce(SUM(CASE WHEN m = 1 THEN v END), 0)
                  AS BIGINT) AS v1,
             CAST(coalesce(SUM(CASE WHEN m = 2 THEN v END), 0)
                  AS BIGINT) AS v2
      FROM vm
    )
    SELECT n_tokens, n_types, v1 AS hapax, v2 AS dis_legomena,
           round(10000.0 * (CAST(s2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k,
           round(CAST(v1 AS DOUBLE) / n_types, 6) AS hapax_ratio
    FROM st
    """,
)
def text_yule_k_q(spark, sf_dir):
    """Yule's K characteristic + hapax profile (Yule 1944 — the
    classic vocabulary-richness constant next to [text_mattr_diversity]
    and [text_zipf_fit]: K = 10⁴·(Σm²Vₘ − N)/N² is length-invariant
    where raw type/token ratio is not, and the hapax share V₁/V is the
    standard crawl-quality signal — boilerplate corpora starve hapaxes):
    token frequencies by one map-side-combinable agg, the frequency
    SPECTRUM Vₘ by a second (frequency-grain, Heaps-bounded), then K
    and the hapax ratio as shared float expressions over exact integer
    moments, 6 dp.  Scale: tokenize is map-only; both aggregations
    combine map-side; the spectrum is ≤max-frequency rows of control
    plane."""
    tok = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+", -1),
                lambda t: t != "",
            )
        ).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("m"))
    vm = freq.groupBy("m").agg(F.count(F.lit(1)).alias("v"))
    st = vm.agg(
        F.sum(F.col("m") * F.col("v")).cast("bigint").alias("n_tokens"),
        F.sum("v").cast("bigint").alias("n_types"),
        F.sum(F.col("m") * F.col("m") * F.col("v"))
        .cast("bigint").alias("s2"),
        F.coalesce(
            F.sum(F.when(F.col("m") == 1, F.col("v"))), F.lit(0)
        ).cast("bigint").alias("v1"),
        F.coalesce(
            F.sum(F.when(F.col("m") == 2, F.col("v"))), F.lit(0)
        ).cast("bigint").alias("v2"),
    )
    nt = F.col("n_tokens")
    return st.select(
        "n_tokens", "n_types",
        F.col("v1").alias("hapax"),
        F.col("v2").alias("dis_legomena"),
        F.round(
            10000.0 * (F.col("s2").cast("double") - nt)
            / (nt.cast("double") * nt),
            6,
        ).alias("yule_k"),
        F.round(
            F.col("v1").cast("double") / F.col("n_types"), 6
        ).alias("hapax_ratio"),
    )


@register(
    "multimodal_doc_pdf_meta",
    oracle="""
    SELECT doc_id,
           '1.' || CAST(4 + doc_id % 4 AS VARCHAR) AS pdf_version,
           CAST(2 + 2 * (1 + doc_id % 5) AS INT) AS n_objects,
           CAST(1 + doc_id % 5 AS INT) AS n_pages,
           CAST(3 + 2 * (1 + doc_id % 5) AS INT) AS size_entry,
           CAST(1 AS INT) AS xref_ok
    FROM documents WHERE doc_id < 400
    """,
)
def multimodal_pdf_meta_q(spark, sf_dir):
    """PDF file-structure metadata walk (ISO 32000 — the DOCUMENT
    container beside the image/audio/video tiers: header version
    comment, object census, page-tree census, trailer /Size, and a
    startxref byte offset that must land exactly on the xref table):
    spec-valid minimal PDFs synthesize executor-side (Catalog → Pages
    → per-page Page + content-stream objects, REAL byte-offset xref
    entries) and parse back through the same four-part walk a real
    reader does — the /Type /Page census is word-boundary guarded so
    the /Pages node never counts as a page, and xref_ok proves the
    writer's offsets are byte-exact.  The oracle recomputes the census
    in closed form from the synthesis parameters.  Arrow-batched,
    map-only at any scale; text/raster payload decode stays the
    documented seam (the TIFF/PNG policy)."""
    from apache_nifi_spark.llm.multimodal import (
        encode_pdf_skeleton,
        parse_pdf_metadata,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )

    def synth(d):
        yield d, *parse_pdf_metadata(
            encode_pdf_skeleton(1 + d % 5, version=f"1.{4 + d % 4}")
        )

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, pdf_version string, n_objects int, n_pages int, "
        "size_entry int, xref_ok int",
    )


@register(
    "multimodal_audio_ogg_meta",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END
                AS BIGINT) AS sample_rate,
           CAST(2 + doc_id % 3 AS INT) AS n_pages,
           CAST(2 + doc_id % 3 AS INT) AS crc_valid_pages,
           CAST(1000 + (doc_id % 100) * 441 AS BIGINT) AS total_samples,
           CAST((1000 + (doc_id % 100) * 441) * 1000
                // (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END)
                AS BIGINT) AS duration_ms,
           CAST(1 AS INT) AS eos_ok
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_audio_ogg_q(spark, sf_dir):
    """Ogg/Vorbis container walk (RFC 3533 page framing + the Vorbis I
    identification header — the free-codec container podcast and web
    audio archives ship): spec-valid streams synthesize executor-side
    (llm/multimodal.encode_ogg_vorbis — BOS page with the Vorbis id
    packet, granule-stepped data pages, EOS flag, REAL page CRCs on
    the 0x04c11db7 non-reflected table), and the parser walks the
    pages back out, recomputing every CRC against the zeroed-field
    header: channels, sample rate, page census, CRC-valid count (==
    n_pages proves the table), final granule → duration by integer
    floor division.  Audio packet payloads stay the documented codec
    seam, the AVI/TIFF/PNG policy.  Arrow-batched row maps both
    ways; the oracle recomputes every field arithmetically."""
    from apache_nifi_spark.llm import encode_ogg_vorbis, parse_ogg_metadata

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )
    rates = [8000, 16000, 22050, 44100, 48000]

    def synth(d):
        blob = encode_ogg_vorbis(
            channels=1 + d % 2,
            sample_rate=rates[d % 5],
            total_samples=1000 + (d % 100) * 441,
            n_data_pages=1 + d % 3,
            serial=1000 + d,
        )
        meta = parse_ogg_metadata(blob)
        if meta is not None:
            ch, rate, n_pages, crc_ok, granule, _bos, eos, _ser = meta
            yield d, ch, rate, n_pages, crc_ok, granule, granule * 1000 // rate, eos

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, channels int, sample_rate long, n_pages int,"
        " crc_valid_pages int, total_samples long, duration_ms long,"
        " eos_ok int",
    )


@register(
    "events_seasonal_anomaly",
    oracle="""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day, hour(ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), cell AS (
      SELECT isodow(day) AS dw, hr, day, cnt,
             row_number() OVER (PARTITION BY isodow(day), hr
                                ORDER BY cnt, day) AS rn,
             COUNT(*) OVER (PARTITION BY isodow(day), hr) AS n
      FROM h
    ), med AS (
      SELECT dw, hr, day, cnt, n,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
               OVER (PARTITION BY dw, hr) AS med
      FROM cell
    ), dev AS (
      SELECT dw, hr, day, cnt, n, med, abs(cnt - med) AS dv,
             row_number() OVER (PARTITION BY dw, hr
                                ORDER BY abs(cnt - med), day) AS rn2
      FROM med
    ), mad AS (
      SELECT dw, hr, cnt, n, med, dv,
             MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dv END)
               OVER (PARTITION BY dw, hr) AS mad
      FROM dev
    )
    SELECT CAST(dw AS INT) AS dow_iso, CAST(hr AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(med) AS BIGINT) AS median_cnt,
           CAST(MAX(mad) AS BIGINT) AS mad_cnt,
           CAST(SUM(CASE WHEN dv > 3 * mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies
    FROM mad GROUP BY dw, hr ORDER BY dow_iso, hour
    """,
)
def events_seasonal_anomaly_q(spark, sf_dir):
    """SEASONAL-BASELINE anomaly detection (the robust seasonal
    monitor every ops pipeline runs before trusting an alert: compare
    each hour's volume against the SAME (weekday, hour) cell's history
    — median + MAD, the [stats_robust_outliers] machinery lifted to a
    seasonal grain, so Monday-9am is judged only against Monday-9ams):
    hourly event counts, per-(isodow, hour) exact lower-median by
    positional selection (row_number vs (n+1)//2 — no
    buffer-everything percentile), MAD the same way, anomaly = dev >
    3·MAD.  ALL-INTEGER arithmetic — counts, medians, deviations —
    so both engines hash exactly with zero float edges.  Scale: the
    series is day×hour grain (calendar-bounded); windows sort within
    168 seasonal cells under one hash partitioning."""
    h = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.hour("ts").alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select((F.weekday("day") + 1).alias("dw"), "hr", "day", "cnt")
    )
    cell = Window.partitionBy("dw", "hr")
    r = h.withColumn(
        "rn", F.row_number().over(cell.orderBy("cnt", "day"))
    ).withColumn("n", F.count(F.lit(1)).over(cell))
    target = F.floor((F.col("n") + 1) / 2)
    m = r.withColumn(
        "med",
        F.max(F.when(F.col("rn") == target, F.col("cnt"))).over(cell),
    ).withColumn("dv", F.abs(F.col("cnt") - F.col("med")))
    m2 = m.withColumn(
        "rn2", F.row_number().over(cell.orderBy("dv", "day"))
    ).withColumn(
        "mad",
        F.max(F.when(F.col("rn2") == target, F.col("dv"))).over(cell),
    )
    return (
        m2.groupBy("dw", "hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.max("med").cast("bigint").alias("median_cnt"),
            F.max("mad").cast("bigint").alias("mad_cnt"),
            F.sum(
                F.when(F.col("dv") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_anomalies"),
        )
        .select(
            F.col("dw").cast("int").alias("dow_iso"),
            F.col("hr").cast("int").alias("hour"),
            "n_obs", "median_cnt", "mad_cnt", "n_anomalies",
        )
        .orderBy("dow_iso", "hour")
    )


@register(
    "multimodal_audio_id3_tags",
    oracle="""
    WITH p AS (
      SELECT doc_id AS d,
             'Track ' || CAST(doc_id AS VARCHAR) AS title,
             'Artist ' || CAST(doc_id % 20 AS VARCHAR) AS artist,
             'Album ' || CAST(doc_id % 7 AS VARCHAR) AS album,
             CAST(1 + doc_id % 16 AS VARCHAR) AS track,
             CASE doc_id % 3 WHEN 0 THEN 32000 WHEN 1 THEN 44100
                  ELSE 48000 END AS rate,
             10 + doc_id % 20 AS nf
      FROM documents WHERE doc_id < 300
    )
    SELECT d AS doc_id,
           CAST(3 AS INT) AS id3_version,
           CAST(4 * 11 + length(title) + length(artist)
                + length(album) + length(track) AS BIGINT) AS tag_size,
           CAST(4 AS INT) AS n_tag_frames,
           title, artist, album, track,
           CAST(nf AS INT) AS mp3_frames,
           CAST(nf * 1152 * 1000 // rate AS BIGINT) AS duration_ms
    FROM p
    """,
)
def multimodal_audio_id3_q(spark, sf_dir):
    """ID3v2.3 tag walk over real MPEG-1 Layer III streams (id3.org +
    ISO 11172-3 — the metadata layer podcast/music ingest reads before
    any audio byte): executor-side synthesis of a four-frame text tag
    (TIT2/TPE1/TALB/TRCK, syncsafe header size, big-endian frame
    sizes, Latin-1 encoding byte) prepended to spec-valid variable-
    length MP3 frames (llm/multimodal.encode_id3v2 +
    encode_mp3_frames), then BOTH parsers walk the stream back out —
    the tag fields byte-exact, the frame census and duration from the
    frame walk that SKIPS the tag via its syncsafe size.  The oracle
    recomputes the tag size from string lengths and the duration by
    integer floor division.  Arrow-batched row map (io.flat_map)."""
    from apache_nifi_spark.llm import (
        encode_id3v2,
        encode_mp3_frames,
        parse_id3v2,
        parse_mpeg_audio,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )
    rates = [32000, 44100, 48000]

    def synth(d):
        rate = rates[d % 3]
        nf = 10 + d % 20
        tag = encode_id3v2({
            "TIT2": f"Track {d}",
            "TPE1": f"Artist {d % 20}",
            "TALB": f"Album {d % 7}",
            "TRCK": str(1 + d % 16),
        })
        blob = tag + encode_mp3_frames(128, rate, 1 + d % 2, nf)
        t = parse_id3v2(blob)
        a = parse_mpeg_audio(blob)
        if t is None or a is None:
            return
        major, size, n_frames, texts = t
        _rate, _ch, _kbps, frames, dur = a
        yield (d, major, size, n_frames,
               *(texts.get(k) for k in ("TIT2", "TPE1", "TALB", "TRCK")),
               frames, dur)

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, id3_version int, tag_size long, n_tag_frames int,"
        " title string, artist string, album string, track string,"
        " mp3_frames int, duration_ms long",
    )


@register(
    "survival_logrank_test",
    oracle="""
    WITH cd AS (
      SELECT DISTINCT o_custkey, o_orderdate FROM orders
    ), mx AS (
      SELECT max(o_orderdate) AS mxd FROM cd
    ), gaps AS (
      SELECT CAST(o_custkey % 2 AS INT) AS grp,
             datediff('day', o_orderdate,
                      coalesce(lead(o_orderdate) OVER (
                          PARTITION BY o_custkey ORDER BY o_orderdate),
                        (SELECT mxd FROM mx))) AS duration,
             CASE WHEN lead(o_orderdate) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate)
                  IS NULL THEN 0 ELSE 1 END AS event
      FROM cd
    ), g AS (
      SELECT grp, duration,
             CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM gaps GROUP BY 1, 2
    ), tot AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_tot
      FROM gaps GROUP BY 1
    ), grid AS (
      SELECT dur.duration, gg.grp
      FROM (SELECT DISTINCT duration FROM gaps) dur,
           (SELECT unnest([0, 1]) AS grp) gg
    ), r AS (
      SELECT grid.duration, grid.grp,
             COALESCE(g.d, 0) AS d,
             tot.n_tot
               - COALESCE(SUM(COALESCE(g.obs, 0)) OVER (
                     PARTITION BY grid.grp ORDER BY grid.duration
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
      FROM grid
      LEFT JOIN g ON g.grp = grid.grp AND g.duration = grid.duration
      JOIN tot ON tot.grp = grid.grp
    ), t AS (
      SELECT duration,
             CAST(SUM(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(SUM(d) AS BIGINT) AS dt,
             CAST(SUM(CASE WHEN grp = 1 THEN n_risk ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(n_risk) AS BIGINT) AS nt
      FROM r GROUP BY duration
    ), terms AS (
      SELECT d1,
             CAST(CAST(dt AS DOUBLE) * n1 / nt AS DECIMAL(28,12))
               AS e1,
             CAST(CASE WHEN nt > 1 THEN
                 CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
                 * (1.0 - CAST(n1 AS DOUBLE) / nt)
                 * (nt - dt) / (nt - 1.0)
               ELSE 0 END AS DECIMAL(28,12)) AS v
      FROM t WHERE dt > 0
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS observed_g1,
           round(SUM(e1), 6) AS expected_g1,
           round((CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1) AS DOUBLE))
                 / sqrt(CAST(SUM(v) AS DOUBLE)), 6) AS z,
           round(((CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1) AS DOUBLE))
                  * (CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1) AS DOUBLE)))
                 / CAST(SUM(v) AS DOUBLE), 6) AS chi2
    FROM terms
    """,
)
def survival_logrank_test_q(spark, sf_dir):
    """LOG-RANK TEST (Mantel 1966 — THE two-sample survival
    comparison: are group 1's reorder gaps distributionally different
    from group 0's, accounting for right-censoring?  Completes the
    survival tier beside the [survival_kaplan_meier] curve and
    [survival_nelson_aalen] hazard): per event time, observed group-1
    events vs the hypergeometric expectation d·n₁/n and variance
    d·(n₁/n)(1−n₁/n)(n−d)/(n−1), summed decimal-pinned so the
    duration-grain reduction is order-free; χ² = (O−E)²/V and the
    signed z.  At-risk counts for BOTH groups at EVERY event time come
    from a (duration × group) grid — explode, never a join — with
    per-group prefix sums.  Scale: gaps are user-partitioned windows;
    everything after is duration-grain (calendar-bounded)."""
    cd = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    ).distinct()
    mx = cd.agg(F.max("o_orderdate").alias("mxd"))
    wcust = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    nxt = F.lead("o_orderdate").over(wcust)
    gaps = (
        cd.crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_custkey") % 2).cast("int").alias("grp"),
            F.datediff(F.coalesce(nxt, F.col("mxd")), F.col("o_orderdate"))
            .alias("duration"),
            F.when(nxt.isNull(), 0).otherwise(1).alias("event"),
        )
    )
    g = gaps.groupBy("grp", "duration").agg(
        F.sum("event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("obs"),
    )
    tot = gaps.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tot")
    )
    grid = (
        gaps.select("duration").distinct()
        .select(
            "duration",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("grp"),
        )
    )
    wg = Window.partitionBy("grp").orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = (
        grid.join(g, ["grp", "duration"], "left")
        .join(F.broadcast(tot), "grp")
        .select(
            "duration", "grp",
            F.coalesce("d", F.lit(0)).alias("d"),
            (
                F.col("n_tot")
                - F.coalesce(
                    F.sum(F.coalesce("obs", F.lit(0))).over(wg),
                    F.lit(0),
                )
            ).alias("n_risk"),
        )
    )
    t = r.groupBy("duration").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("bigint").alias("d1"),
        F.sum("d").cast("bigint").alias("dt"),
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
        .cast("bigint").alias("n1"),
        F.sum("n_risk").cast("bigint").alias("nt"),
    )
    dtD = F.col("dt").cast("double")
    n1f = F.col("n1").cast("double") / F.col("nt")
    terms = t.filter(F.col("dt") > 0).select(
        "d1",
        (dtD * F.col("n1") / F.col("nt")).cast("decimal(28,12)")
        .alias("e1"),
        F.when(
            F.col("nt") > 1,
            dtD * n1f * (1.0 - n1f)
            * (F.col("nt") - F.col("dt")) / (F.col("nt") - 1.0),
        ).otherwise(0.0).cast("decimal(28,12)").alias("v"),
    )
    oe = F.col("so").cast("double") - F.col("se").cast("double")
    return (
        terms.agg(
            F.sum("d1").cast("bigint").alias("so"),
            F.sum("e1").alias("se"),
            F.sum("v").alias("sv"),
        )
        .select(
            F.col("so").alias("observed_g1"),
            F.round(F.col("se"), 6).cast("double").alias("expected_g1"),
            F.round(oe / F.sqrt(F.col("sv").cast("double")), 6)
            .alias("z"),
            F.round(
                oe * oe / F.col("sv").cast("double"), 6
            ).alias("chi2"),
        )
    )


@register(
    "hypertable_percentile_rollup",
    oracle="""
    WITH e AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
               // 96 AS bkt
      FROM events
    ), hb AS (
      SELECT hr, bkt, CAST(COUNT(*) AS BIGINT) AS m
      FROM e GROUP BY 1, 2
    ), c AS (
      SELECT hr, bkt, m,
             CAST(SUM(m) OVER (PARTITION BY hr ORDER BY bkt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(SUM(m) OVER (PARTITION BY hr) AS BIGINT) AS n
      FROM hb
    )
    SELECT CAST(hr AS VARCHAR) AS hour,
           CAST(MAX(n) AS BIGINT) AS n,
           round(CAST(MIN(CASE WHEN cum >= (n + 1) // 2
                      THEN (bkt + 1) * 96 END) AS DOUBLE) / 100.0, 2)
             AS p50,
           round(CAST(MIN(CASE WHEN cum >= (19 * n + 19) // 20
                      THEN (bkt + 1) * 96 END) AS DOUBLE) / 100.0, 2)
             AS p95,
           round(CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100
                      THEN (bkt + 1) * 96 END) AS DOUBLE) / 100.0, 2)
             AS p99
    FROM c GROUP BY hr ORDER BY hour
    """,
)
def hypertable_percentile_rollup_q(spark, sf_dir):
    """PER-BUCKET PERCENTILE ROLLUP (TimescaleDB's ``percentile_agg``
    hyperfunction shape — the p50/p95/p99-per-hour latency dashboard
    every ops team runs, completing the hyperfunction tier beside
    time_weighted_avg / OHLC / gapfill / counter rate / M4 / LTTB):
    values bucket by PURE INTEGER division (96-cent bins — zero IEEE
    ops anywhere), per-(hour, bucket) counts merge by addition (the
    mergeable-sketch property [quantile_histogram_sketch] pins
    globally), per-hour cumulative over the ≤512-row bucket table, and
    each percentile reads the first bucket reaching its exact integer
    rank ceil(p·n) — estimates are bucket upper edges, error ≤ one
    bin by construction.  Scale: ONE map-side-combinable agg at
    (hour × bucket) grain; windows run inside hour partitions over
    bounded bucket tables."""
    e = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.expr(
            "cast(floor(cast(value as double) * 100 + 0.5) as bigint)"
            " div 96"
        ).alias("bkt"),
    )
    hb = e.groupBy("hr", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    whr = Window.partitionBy("hr")
    wcum = whr.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = hb.select(
        "hr", "bkt", "m",
        F.sum("m").over(wcum).cast("bigint").alias("cum"),
        F.sum("m").over(whr).cast("bigint").alias("n"),
    )
    edge = (F.col("bkt") + 1) * 96

    def pick(rank_expr, name):
        return F.round(
            F.min(F.when(F.col("cum") >= rank_expr, edge))
            .cast("double") / 100.0,
            2,
        ).alias(name)

    n = F.col("n")
    return (
        c.groupBy("hr")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            pick(F.expr("(n + 1) div 2"), "p50"),
            pick(F.expr("(19 * n + 19) div 20"), "p95"),
            pick(F.expr("(99 * n + 99) div 100"), "p99"),
        )
        .select(
            F.col("hr").cast("string").alias("hour"),
            "n", "p50", "p95", "p99",
        )
        .orderBy("hour")
    )


def _lpa_oracle() -> str:
    """Unrolled 3-round synchronous label propagation twin: identical
    per-round argmax (count DESC, label ASC) over the canonical
    undirected edge set."""
    base = """
    WITH e0 AS (
      SELECT o_custkey AS a, l_suppkey + 1000000 AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_orderkey % 17 = 0
    ), ed AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM e0
    ), adj AS (
      SELECT u AS s, v AS d FROM ed UNION ALL SELECT v, u FROM ed
    ), l0 AS (
      SELECT DISTINCT s AS node, s AS lbl FROM adj
    )"""
    rnd = """, l{n} AS (
      SELECT node, lbl FROM (
        SELECT adj.s AS node, p.lbl,
               row_number() OVER (PARTITION BY adj.s
                   ORDER BY COUNT(*) DESC, p.lbl ASC) AS rk
        FROM adj JOIN l{p} p ON p.node = adj.d
        GROUP BY adj.s, p.lbl
      ) WHERE rk = 1
    )"""
    q = base
    for i in range(1, 4):
        q += rnd.format(n=i, p=i - 1)
    q += """
    SELECT lbl AS community,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM l3 GROUP BY lbl HAVING COUNT(*) >= 3 ORDER BY size DESC, lbl
    """
    return q


@register("graph_lpa_communities", oracle=_lpa_oracle())
def graph_lpa_communities_q(spark, sf_dir):
    """LABEL PROPAGATION community detection (Raghavan, Albert &
    Kumara 2007 — the near-linear community algorithm, the clustering
    rung of the graph tier above [graph_kcore_membership]'s density
    peeling): SYNCHRONOUS rounds — every node adopts the label most
    frequent among its neighbors, ties to the SMALLEST label, so each
    round is one (node, label) count aggregation and one per-node
    argmax window, fully deterministic (async LPA's order-dependence
    is exactly what a distributed engine cannot promise).  3 unrolled
    rounds, identical in the SQL twin; communities under 3 members
    suppressed.  Scale: per-round cost is one edge-grain shuffle —
    the PageRank shape — and labels are node-grain state."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 17 == 0
    ).select("l_orderkey", "l_suppkey")
    e0 = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("a"),
        (F.col("l_suppkey") + 1_000_000).alias("b"),
    )
    ed = e0.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    adj = ed.select(F.col("u").alias("s"), F.col("v").alias("d")) \
        .unionByName(
            ed.select(F.col("v").alias("s"), F.col("u").alias("d"))
        ).localCheckpoint(eager=True)
    # ^ EAGER pin (the pagerank_fixed_point precedent): the adjacency
    #   feeds the label init plus all 3 round-joins — unpinned, the
    #   join+distinct+union lineage re-derived 4× inside the one action
    #   (r17; measured below).
    lbl = adj.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    wnode = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("lbl").asc()
    )
    for _ in range(3):
        lbl = (
            adj.join(
                lbl.select(
                    F.col("node").alias("d"), "lbl"
                ),
                "d",
            )
            .groupBy(F.col("s").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rk", F.row_number().over(wnode))
            .filter(F.col("rk") == 1)
            .select("node", "lbl")
        )
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .filter(F.col("size") >= 3)
        .orderBy(F.col("size").desc(), "community")
    )


@register(
    "forecast_holt_linear",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT event_type AS et, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ix AS (
      SELECT et, day, x,
             row_number() OVER (PARTITION BY et ORDER BY day) - 1 AS t,
             COUNT(*) OVER (PARTITION BY et) AS n
      FROM d
    ), st AS (
      SELECT a.et, 1 AS t, a.n,
             (CAST(b.x AS DOUBLE) + CAST(a.x AS DOUBLE)
              + (CAST(b.x AS DOUBLE) - a.x)) * 0.5 AS l,
             ((CAST(b.x AS DOUBLE) + CAST(a.x AS DOUBLE)
               + (CAST(b.x AS DOUBLE) - a.x)) * 0.5
              - CAST(a.x AS DOUBLE)
              + (CAST(b.x AS DOUBLE) - a.x)) * 0.5 AS b,
             CAST(a.x AS DOUBLE) AS l_prev0,
             CAST(b.x AS DOUBLE) - a.x AS b_prev0
      FROM ix a JOIN ix b ON b.et = a.et AND b.t = 1
      WHERE a.t = 0
      UNION ALL
      SELECT s.et, s.t + 1, s.n,
             (CAST(i.x AS DOUBLE) + s.l + s.b) * 0.5,
             ((CAST(i.x AS DOUBLE) + s.l + s.b) * 0.5 - s.l + s.b)
               * 0.5,
             s.l, s.b
      FROM st s JOIN ix i ON i.et = s.et AND i.t = s.t + 1
      WHERE s.t + 1 < s.n
    )
    SELECT st.et AS event_type, CAST(ix.day AS VARCHAR) AS day,
           ix.x,
           round(st.l, 6) AS level,
           round(st.b, 6) AS trend,
           round(st.l + 7 * st.b, 6) AS forecast_7d
    FROM st JOIN ix ON ix.et = st.et AND ix.t = st.t
    WHERE st.t >= 1
    ORDER BY event_type, day
    """,
)
def forecast_holt_linear_q(spark, sf_dir):
    """HOLT LINEAR-TREND smoothing (Holt 1957 — double exponential
    smoothing, the level+trend forecaster between [stats_ewma_per_user]
    (no trend) and [forecast_seasonal_naive_backtest] (no smoothing)):
    per-event-type daily counts, α = β = 1/2 so both updates collapse
    to the SHARED single-association form l' = (x + l + b)·0.5,
    b' = (l' − l + b)·0.5 — the identical IEEE op sequence in the
    pandas loop and the recursive-CTE twin, so every intermediate
    double is bit-equal with no decimal pinning needed.  Init
    l₀ = x₀, b₀ = x₁ − x₀; output level/trend per day plus the 7-step
    forecast l + 7b.  Scale: the recursion runs INSIDE each
    series partition (applyInPandas, calendar-bounded groups); the
    day agg is the only corpus-grain op."""
    import pandas as pd  # noqa: F811

    d = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [float(v) for v in pdf["x"]]
        out = {"event_type": [], "day": [], "x": [], "level": [],
               "trend": [], "forecast_7d": []}
        if len(xs) < 2:
            return pd.DataFrame(out)
        l_prev = xs[0]
        b_prev = xs[1] - xs[0]
        for t in range(1, len(xs)):
            l = (xs[t] + l_prev + b_prev) * 0.5
            b = (l - l_prev + b_prev) * 0.5
            out["event_type"].append(pdf["event_type"][t])
            out["day"].append(str(pdf["day"][t]))
            out["x"].append(int(pdf["x"][t]))
            # NO python round() here: dyadic state hits exact 6dp
            # ties (…3125) where python rounds half-to-EVEN but both
            # engines' SQL round() is half-up — round JVM-side below
            out["level"].append(l)
            out["trend"].append(b)
            out["forecast_7d"].append(l + 7 * b)
            l_prev, b_prev = l, b
        return pd.DataFrame(out)

    return (
        d.groupBy("event_type")
        .applyInPandas(
            holt,
            "event_type string, day string, x long, level double,"
            " trend double, forecast_7d double",
        )
        .select(
            "event_type", "day", "x",
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
            F.round("forecast_7d", 6).alias("forecast_7d"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "multimodal_zstd_frame_meta",
    oracle="""
    WITH p AS (
      SELECT doc_id AS d,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS sseg,
             1000 + doc_id % 9000 AS cs,
             10 + doc_id % 8 AS wl,
             doc_id % 6 AS wm,
             CASE WHEN doc_id % 2 = 1 THEN 100 + doc_id % 900
                  ELSE 0 END AS did,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS ck,
             1 + doc_id % 3 AS nb,
             CASE WHEN doc_id % 4 = 0 THEN 8 + doc_id % 16
                  ELSE 0 END AS skip_sz
      FROM documents WHERE doc_id < 300
    )
    SELECT d AS doc_id,
           CAST(1 AS INT) AS n_frames,
           CAST(CASE WHEN skip_sz > 0 THEN 1 ELSE 0 END AS INT)
             AS n_skippable,
           CAST(CASE WHEN sseg = 1 THEN cs
                ELSE (1 << wl) + ((1 << wl) // 8) * wm END AS BIGINT)
             AS window_size,
           CAST(did AS BIGINT) AS dict_id,
           CAST(cs AS BIGINT) AS content_size,
           CAST(nb AS INT) AS n_blocks,
           CAST(ck AS INT) AS checksum_flag
    FROM p
    """,
)
def multimodal_zstd_frame_q(spark, sf_dir):
    """ZSTANDARD frame-header walk (RFC 8878 — THE corpus-storage
    codec: every modern training-data shard ships as zstd frames, and
    the frame header is what a reader must parse to plan decompression
    windows and dictionary routing): spec-valid frames synthesize
    executor-side (llm/multimodal.encode_zstd_skeleton — magic,
    descriptor bits, window descriptor with the spec's exp+mantissa
    formula, 2-byte dictionary IDs, 4-byte content size, raw-block
    headers, checksum slot, optional skippable frames) and the parser
    walks them back out, bounds-checked so a torn frame returns None,
    never a phantom record.  Entropy payloads stay the documented
    codec seam.  Arrow-batched row map; every field recomputed
    arithmetically in the oracle."""
    from apache_nifi_spark.llm import (
        encode_zstd_skeleton,
        parse_zstd_metadata,
    )

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def synth(d):
        blob = encode_zstd_skeleton(
            content_size=1000 + d % 9000,
            window_log=10 + d % 8,
            window_mantissa=d % 6,
            single_segment=d % 3 == 0,
            dict_id=(100 + d % 900) if d % 2 else 0,
            checksum=d % 5 == 0,
            n_blocks=1 + d % 3,
            skippable_size=(8 + d % 16) if d % 4 == 0 else 0,
        )
        m = parse_zstd_metadata(blob)
        if m is not None:
            yield d, *m

    return io.flat_map(
        base, ["doc_id"], synth,
        "doc_id long, n_frames int, n_skippable int, window_size long,"
        " dict_id long, content_size long, n_blocks int,"
        " checksum_flag int",
    )
