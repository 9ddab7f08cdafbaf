"""Entry point and contract queries of html-parser-spark.

``entry(spark)`` runs the flagship extraction over the synthesized pages
table at sf0.001.

Every other query is a *contract query*: a ``q_*(spark, sf_dir)`` function
declared once with ``@contract`` directly above it.  The declaration holds

* ``oracle`` — the DuckDB SQL twin (or a zero-argument function building it)
  that must return the same rows over the same parquet tables;
* ``plan`` / ``must`` / ``must_not`` / ``nodes`` — optional physical-plan
  property: a description, substrings the executed plan must / must not
  contain, and exact node counts (``{"Exchange": 1}``) of its plan tree;
* ``plan_kwargs`` — extra arguments the plan audit calls the query with.

``queries()``, ``oracle_sql()`` and ``contracts()`` are views over that one
registry; ``tools/oracle_check.py``, ``tests/test_contract_oracle.py`` and
``tools/plan_audit.py`` iterate it.  Adding a query is one declaration.

Column names are aliased identically on both sides; floats are rounded on
both sides (the oracle hash compares values after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Sequence
from dataclasses import dataclass

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_SHIPPED_CONTEXTS: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``html_parser_spark`` importable on Python workers regardless of
    the driver's cwd/PYTHONPATH: zip the package and addPyFile it once per
    SparkContext (the caller's session is not necessarily ours)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    import tempfile
    import zipfile

    zpath = os.path.join(tempfile.gettempdir(), "htmlps_runtime.zip")
    pkg = os.path.join(_REPO_ROOT, "html_parser_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for name in files:
                if name.endswith(".pyc"):
                    continue
                full = os.path.join(dirpath, name)
                z.write(full, os.path.relpath(full, _REPO_ROOT))
    sc.addPyFile(zpath)
    _SHIPPED_CONTEXTS.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages from sf0.001 documents + reference fixtures,
    run the fused extraction kernel, return the results table."""
    _ship_package(spark)
    from html_parser_spark.data.pages import pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = pages_df(spark, "/root/testdata/sf0.001", include_fixtures=True)
    res = extract_pages(pages, num_partitions=16)
    return res.select(
        "url", "lang", "fmt", "n_entries", F.length("extracted_text").alias("text_len")
    )


# --------------------------------------------------------------------------
# contract registry


@dataclass(frozen=True)
class Contract:
    """One contract query: the Spark function, its DuckDB twin and the plan
    property ``tools/plan_audit.py`` asserts (``plan`` is None when the
    query is not audited)."""

    fn: Callable[..., DataFrame]
    oracle: str | Callable[[], str]
    plan: str | None
    must: tuple[str, ...]
    must_not: tuple[str, ...]
    nodes: dict[str, int]
    plan_kwargs: dict

    def oracle_sql(self) -> str:
        return self.oracle() if callable(self.oracle) else self.oracle


_CONTRACTS: dict[str, Contract] = {}


def contract(
    oracle: str | Callable[[], str],
    *,
    plan: str | None = None,
    must: Sequence[str] = (),
    must_not: Sequence[str] = (),
    nodes: dict[str, int] | None = None,
    plan_kwargs: dict | None = None,
):
    """Register the decorated ``q_*`` function under its name."""

    def register(fn):
        _CONTRACTS[fn.__name__] = Contract(
            fn, oracle, plan, tuple(must), tuple(must_not), nodes or {}, plan_kwargs or {}
        )
        return fn

    return register


def contracts() -> dict[str, Contract]:
    """Every registered contract query, by name, in declaration order."""
    return dict(_CONTRACTS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> ``fn(spark, sf_dir)`` for every contract query."""
    return {name: c.fn for name, c in _CONTRACTS.items()}


def oracle_sql() -> dict[str, str]:
    """name -> DuckDB SQL over the same parquet tables, for every query."""
    return {name: c.oracle_sql() for name, c in _CONTRACTS.items()}


# --------------------------------------------------------------------------
# helpers


# a guarded kernel stage reads its input once and crosses into Python once
# (and shuffles once, with ``num_partitions``); the cap is the jobs'
# ``--max-html-bytes`` default
_GUARDED_STAGE = {"Scan parquet": 1, "ArrowEvalPython": 1}
_JOB_HTML_CAP = 8 << 20


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _tbl(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --- relational operator analogs (SURVEY.md §2.5/§2.6) --------------------


@contract(
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
    """,
    plan="predicate pushdown + column pruning",
    must=["PushedFilters: [IsNotNull(l_shipdate)", "*(1)"],
    must_not=["Exchange"],  # pure scan+filter+project: no shuffle at all
)
def q_filter_project(spark, sf_dir):
    """S1/S2 — predicate + projection with pushdown-friendly shape."""
    li = _tbl(spark, sf_dir, "lineitem")
    # no rounding: the per-row product is the same IEEE double in any engine,
    # while round() half-up/half-even boundary behavior differs across engines
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@contract(
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    plan="map-side partial aggregation before the exchange",
    must=["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)"],
)
def q_agg_pricing(spark, sf_dir):
    """M15-style flag/stat aggregation (TPC-H Q1 shape: map-side partial agg)."""
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@contract(
    oracle="""
        SELECT r_name, count(*) AS customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    plan="broadcast dims, partial agg",
    must=["BroadcastHashJoin", "HashAggregate", "*("],
    must_not=["SortMergeJoin"],
)
def q_dim_broadcast_join(spark, sf_dir):
    """F4 analog — broadcast map-side join against small dimensions."""
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    r = _tbl(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@contract(
    oracle="""
        WITH w AS (
          SELECT o_custkey, o_totalprice,
                 lag(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ) AS prev_price
          FROM orders
        )
        SELECT o_custkey, count(*) AS violations
        FROM w WHERE prev_price IS NOT NULL AND o_totalprice < prev_price
        GROUP BY o_custkey
    """,
)
def q_window_order_check(spark, sf_dir):
    """M14 — lag-over-order violation check (alphabetical-order analog)."""
    o = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.withColumn("prev_price", F.lag("o_totalprice").over(w))
    return (
        flagged.filter(F.col("prev_price").isNotNull() & (F.col("o_totalprice") < F.col("prev_price")))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("violations"))
    )


@contract(
    oracle="""
        SELECT o_custkey, count(*) AS n_orders,
               string_agg(o_orderstatus || '@' || strftime(o_orderdate, '%Y-%m-%d'),
                          ',' ORDER BY o_orderdate, o_orderkey) AS status_seq
        FROM orders
        GROUP BY o_custkey
    """,
)
def q_merge_by_key(spark, sf_dir):
    """M1 — merge-by-spelling analog: order-preserving group-fold of order
    statuses per customer (concat of date-ordered statuses)."""
    o = _tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "tagged", F.concat_ws("@", F.col("o_orderstatus"), F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    return (
        seq.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.concat_ws(",", F.sort_array(F.collect_list(F.struct("rn", "tagged"))).tagged).alias(
                "status_seq"
            ),
        )
    )


@contract(
    oracle="""
        SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
        FROM part
        ORDER BY p_retailprice DESC, p_partkey ASC
        LIMIT 10
    """,
)
def q_topk(spark, sf_dir):
    """S3/top-k — deterministic sort + limit."""
    p = _tbl(spark, sf_dir, "part")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
        .limit(10)
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"))
    )


# --- training-data ops over documents -------------------------------------


@contract(
    oracle="""
        SELECT md5(text) AS h, count(*) AS dup_count,
               min(doc_id) AS canonical_id
        FROM documents GROUP BY md5(text)
    """,
)
def q_exact_dedup(spark, sf_dir):
    from html_parser_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


@contract(
    oracle="""
        SELECT doc_id,
               md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fingerprint,
               len(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm_len
        FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    from html_parser_spark.ops.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


@contract(
    oracle="""
        WITH t AS (
          SELECT doc_id,
                 lower(regexp_replace(text, '\\s+', ' ', 'g')) AS tx
          FROM documents WHERE doc_id < 60
        ),
        h AS (
          SELECT doc_id,
                 list_transform(
                   list_transform(range(1, greatest(len(tx) - 7, 0) + 1),
                                  i -> substr(tx, CAST(i AS INT), 8)),
                   g -> md5(g)) AS hs
          FROM t
        ),
        m AS (
          SELECT doc_id,
                 CASE WHEN len(hs) >= 4 THEN
                   list_transform(range(1, len(hs) - 3 + 1),
                     i -> list_min(hs[CAST(i AS INT):CAST(i + 3 AS INT)]))
                 ELSE hs END AS mins
          FROM h
        )
        SELECT doc_id, unnest(list_distinct(mins)) AS fingerprint FROM m
    """,
)
def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing (rolling k-gram window minima) — the edit-robust
    fingerprint; bounded id range keeps the row count oracle-friendly."""
    from html_parser_spark.ops.text import winnow_fingerprints

    return winnow_fingerprints(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 60), k=8, w=4
    )


@contract(
    oracle="""
        WITH b AS (
          SELECT doc_id, text,
                 (strpos('0123456789abcdef',
                         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                 + strpos('0123456789abcdef',
                          substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                   AS bucket
          FROM documents
        )
        SELECT CASE WHEN bucket < 205 THEN 'train'
                    WHEN bucket < 230 THEN 'valid'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc,
               CAST(sum(len(text)) AS BIGINT) AS total_chars
        FROM b GROUP BY 1
    """,
)
def q_data_split(spark, sf_dir):
    """Deterministic hash-based train/valid/test assignment (the reproducible
    corpus-split primitive: same doc → same split on every run and engine —
    unlike randomSplit/sampleBy, a re-run or a different partitioning cannot
    leak documents across splits).  Bucket = first two md5 hex chars of the
    doc id (256 buckets): <205 train (~80%), <230 valid (~10%), rest test."""
    from html_parser_spark.ops.corpus import assign_split

    d = assign_split(_docs(spark, sf_dir))
    return d.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@contract(
    oracle="""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ), tok AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, unnest(w) AS tok
          FROM t
        ), wc AS (
          SELECT doc_id, n_tokens, tok, count(*) AS c
          FROM tok GROUP BY 1, 2, 3
        ), top AS (
          SELECT doc_id, n_tokens, tok AS top_word,
                 round(c / n_tokens, 4) AS top_word_frac,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY c DESC, tok ASC) AS rn
          FROM wc
        ), bg AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 2 THEN
                   list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i + 1])
                 ELSE [] END AS gs
          FROM t
        ), bgc AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(gs) AS g FROM bg) GROUP BY 1, 2
        ), dup AS (
          SELECT doc_id,
                 round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 4)
                   AS dup_bigram_frac
          FROM bgc GROUP BY doc_id
        )
        SELECT top.doc_id, top.n_tokens, top.top_word, top.top_word_frac,
               coalesce(dup.dup_bigram_frac, 0.0) AS dup_bigram_frac
        FROM top LEFT JOIN dup USING (doc_id) WHERE rn = 1
    """,
    plan="exploded token aggs combine map-side (partial HashAggregate)",
    must=["HashAggregate", "partial_count"],
    must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
)
def q_repetition(spark, sf_dir):
    """Gopher-style repetition filter features: top-token fraction and
    duplicate-bigram occurrence fraction per document (Rae et al. §A.1.1).
    Tie on the top token breaks to the smallest token (min over (-count,
    token)) so the answer is deterministic on every engine."""
    from html_parser_spark.ops.corpus import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


_MINHASH_CTE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [] END AS shingles
  FROM toks
)
SELECT doc_id,
       list_min(list_transform(shingles, s -> md5('0|' || s))) AS sig_0,
       list_min(list_transform(shingles, s -> md5('1|' || s))) AS sig_1,
       list_min(list_transform(shingles, s -> md5('2|' || s))) AS sig_2,
       list_min(list_transform(shingles, s -> md5('3|' || s))) AS sig_3
FROM sh
"""


@contract(
    oracle=f"""
        WITH RECURSIVE sigs AS ({_MINHASH_CTE}),
        bands AS (
          SELECT doc_id, 0 AS band_id, sig_0 || '|' || sig_1 AS band_key FROM sigs
          UNION ALL
          SELECT doc_id, 1 AS band_id, sig_2 || '|' || sig_3 AS band_key FROM sigs
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        sym AS (
          SELECT doc_a AS v, doc_b AS u FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(v, lbl) AS (
          SELECT DISTINCT v, v FROM sym
          UNION
          SELECT s.v, r.lbl FROM sym s JOIN reach r ON r.v = s.u
        ),
        losers AS (
          SELECT v AS doc_id FROM reach GROUP BY v HAVING v <> min(lbl)
        )
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    plan="loser set dropped via ANTI-join (broadcastable)",
    must=["LeftAnti"],
    must_not=["CartesianProduct"],
)
def q_dedup_survivors(spark, sf_dir):
    """The deduplicated corpus (what actually ships to training): LSH
    near-dup components → drop non-canonical members via LEFT ANTI join,
    keep every doc that was never in a dup cluster."""
    from html_parser_spark.ops.corpus import dedup_survivors

    return dedup_survivors(_docs(spark, sf_dir), num_hashes=4, bands=2).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


@contract(
    oracle="""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ), c AS (
          SELECT doc_id, w,
                 unnest(generate_series(
                   0, CAST(ceil(len(w) / 32.0) AS BIGINT) - 1)) AS chunk_idx
          FROM t
        )
        SELECT doc_id, chunk_idx,
               least(CAST(32 AS BIGINT), len(w) - chunk_idx * 32)
                 AS n_chunk_tokens,
               array_to_string(
                 list_slice(w, chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ')
                 AS chunk_text
        FROM c
    """,
)
def q_chunk_plan(spark, sf_dir):
    """Context-window chunking (sequence prep): one row per fixed-size token
    chunk per document — narrow ops only (split/sequence/explode/slice), no
    shuffle; the chunk layout is identical on every engine."""
    from html_parser_spark.ops.corpus import chunk_plan

    return chunk_plan(_docs(spark, sf_dir), chunk_tokens=32)


def _pii_scan_oracle() -> str:
    from html_parser_spark.ops.text import PII_PATTERNS

    pii_counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    pii_total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for pat in PII_PATTERNS.values()
    )
    return f"""
        SELECT doc_id,
               {pii_counts},
               CAST({pii_total} AS BIGINT) AS pii_total
        FROM documents
    """


@contract(oracle=_pii_scan_oracle)
def q_pii_scan(spark, sf_dir):
    """Per-document PII match counts (email/ipv4/long-digit-run) via
    dialect-portable regexes — the scrub-before-training audit.  Zero matches
    on the synthetic corpus is the EXPECTED answer (the unit tests plant
    positives); the oracle proves the count expressions agree per row."""
    from html_parser_spark.ops.text import pii_scan

    return pii_scan(_docs(spark, sf_dir))


@contract(
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.95), 4) AS p95,
               round(quantile_cont(value, 0.99), 4) AS p99,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark, sf_dir):
    """Exact grouped percentiles (p50/p95/p99) over the events stream —
    the latency-SLO battery; Spark's exact `percentile` vs DuckDB
    quantile_cont, both type-7 linear interpolation."""
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n_events"),
    )


@contract(
    oracle=_MINHASH_CTE,
    plan="pure JVM expressions, zero Python",
    must=["Project"],
    must_not=["ArrowEvalPython", "BatchEvalPython"],
)
def q_minhash_sig(spark, sf_dir):
    from html_parser_spark.ops.dedup import minhash_signature

    sigs = minhash_signature(_docs(spark, sf_dir), num_hashes=4)
    return sigs.select(
        "doc_id",
        F.col("minhash")[0].alias("sig_0"),
        F.col("minhash")[1].alias("sig_1"),
        F.col("minhash")[2].alias("sig_2"),
        F.col("minhash")[3].alias("sig_3"),
    )


@contract(
    oracle=f"""
        WITH sigs AS ({_MINHASH_CTE}),
        bands AS (
          SELECT doc_id, 0 AS band_id, sig_0 || '|' || sig_1 AS band_key FROM sigs
          UNION ALL
          SELECT doc_id, 1 AS band_id, sig_2 || '|' || sig_3 AS band_key FROM sigs
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """,
)
def q_near_dup_pairs(spark, sf_dir):
    from html_parser_spark.ops.dedup import lsh_near_duplicates

    return lsh_near_duplicates(_docs(spark, sf_dir), num_hashes=4, bands=2)


@contract(
    oracle=f"""
        WITH RECURSIVE sigs AS ({_MINHASH_CTE}),
        bands AS (
          SELECT doc_id, 0 AS band_id, sig_0 || '|' || sig_1 AS band_key FROM sigs
          UNION ALL
          SELECT doc_id, 1 AS band_id, sig_2 || '|' || sig_3 AS band_key FROM sigs
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        sym AS (
          SELECT doc_a AS v, doc_b AS u FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(v, lbl) AS (
          SELECT DISTINCT v, v FROM sym
          UNION
          SELECT s.v, r.lbl FROM sym s JOIN reach r ON r.v = s.u
        ),
        labels AS (
          SELECT v AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY v
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               CAST(doc_id = cluster_id AS INT) AS is_canonical
        FROM labels
    """,
)
def q_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING (the dedup endgame): transitive components over
    the LSH pair graph via min-label propagation (O(diameter) BSP rounds,
    one-row convergence counts only on the driver), canonical = min doc_id.
    Oracle: DuckDB recursive CTE computing min reachable id."""
    from html_parser_spark.ops.dedup import near_dup_components

    return near_dup_components(_docs(spark, sf_dir), num_hashes=4, bands=2)


@contract(
    oracle="""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def q_event_windows(spark, sf_dir):
    """Tumbling-window aggregation over the events table: one-hour windows
    per event type."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --- the parse kernel itself (rows-only unless oracle provided) -----------


@contract(
    oracle="""
        -- symbolic reconstruction of the P20 innerText-flatten over the
        -- deterministic synthetic format-A template (pages.py): per-line
        -- whitespace runs collapse to one space, line tails are stripped
        SELECT 'https://synth.example/' || lang || '/' || doc_id || '-0.html' AS url,
               'A' AS fmt,
               1 AS n_entries,
               rtrim(regexp_replace(
                 'DOC' || doc_id || ' сущ. ' || substr(text, 1, 2000) ||
                 '♦ ' || substr(text, 1, 80) || ' перен. ' || substr(text, 81, 200),
                 ' {2,}', ' ', 'g')) AS extracted_text
        FROM documents
    """,
    plan="extraction pipeline, guarded and salted: ONE scan, ONE Exchange, "
    "ONE fused ArrowEvalPython stage",
    must=["REPARTITION_BY_NUM"],
    nodes={**_GUARDED_STAGE, "Exchange": 1},
    plan_kwargs={"num_partitions": 8, "max_html_bytes": _JOB_HTML_CAP},
)
def q_extract_text(spark, sf_dir, num_partitions=None, max_html_bytes=None):
    """The fused extraction UDF over deterministic synthetic pages.  The
    oracle reconstructs extracted_text symbolically from documents.text —
    a REAL cross-engine check of the whole parse path."""
    _ship_package(spark)
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, sf_dir, paragraphs=1)
    res = extract_pages(pages, num_partitions, max_html_bytes)
    return res.select(
        "url", "fmt", "n_entries", F.col("extracted_text").alias("extracted_text")
    )


@contract(
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup(spark, sf_dir):
    """Hierarchical aggregation (ROLLUP) over orders — grouping-set coverage."""
    o = _tbl(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@contract(
    oracle="""
        SELECT doc_id,
               upper(substr(text, 1, 10)) AS head_upper,
               len(replace(text, ' ', '')) AS len_no_spaces,
               CASE WHEN strpos(text, 'spark') IS NULL THEN 0
                    ELSE strpos(text, 'spark') END AS spark_pos,
               reverse(substr(text, 1, 8)) AS head_rev,
               array_to_string(string_split(substr(text, 1, 20), ' '), '-') AS dashed
        FROM documents
    """,
)
def q_string_battery(spark, sf_dir):
    """String-function battery over documents (portable subset)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.upper(F.substring(t, 1, 10)).alias("head_upper"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).alias("len_no_spaces"),
        F.instr(t, "spark").alias("spark_pos"),
        F.reverse(F.substring(t, 1, 8)).alias("head_rev"),
        F.concat_ws("-", F.split(F.substring(t, 1, 20), " ")).alias("dashed"),
    )


@contract(
    oracle="""
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
               count(*) AS orders,
               round(avg(o_totalprice), 2) AS avg_price,
               min(dayofmonth(o_orderdate)) AS first_dom
        FROM orders
        GROUP BY 1, 2
    """,
)
def q_date_battery(spark, sf_dir):
    """Date-function battery over orders (year/month/dow aggregation)."""
    o = _tbl(spark, sf_dir, "orders")
    ts = F.col("o_orderdate").cast("timestamp")
    return (
        o.groupBy(
            F.year(ts).alias("y"),
            F.month(ts).alias("m"),
        )
        .agg(
            F.count("*").alias("orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
            F.min(F.dayofmonth(ts)).alias("first_dom"),
        )
    )


@contract(
    oracle="""
        -- 3-block pages: per-line collapse+trim (textflat's inner_text
        -- line processing), blocks concatenated with no separator, final
        -- 2+-whitespace collapse (the reduce+replaceAll of P20)
        WITH base AS (
          SELECT doc_id, lang,
            trim(regexp_replace(
              'DOC' || doc_id || ' сущ. ' || substr(text, 1, 2000),
              '\\s+', ' ', 'g')) AS l1,
            trim(regexp_replace(
              '♦ ' || substr(text, 1, 80) || ' перен. ' || substr(text, 81, 200),
              '\\s+', ' ', 'g')) AS l2
          FROM documents
        )
        SELECT 'https://synth.example/' || lang || '/' || doc_id || '-0.html' AS url,
               'A' AS fmt,
               3 AS n_entries,
               regexp_replace(repeat(l1 || l2, 3), '\\s{2,}', ' ', 'g')
                 AS extracted_text
        FROM base
    """,
)
def q_extract_text_rich(spark, sf_dir):
    """The extraction kernel over MULTI-paragraph pages (3 entry blocks per
    page): the oracle reconstructs the innerText flatten symbolically with
    per-line collapse+trim then block repetition — a stronger cross-engine
    check of line handling than the single-block q_extract_text."""
    _ship_package(spark)
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, sf_dir, paragraphs=3)
    res = extract_pages(pages)
    return res.select(
        "url", "fmt", "n_entries", F.col("extracted_text").alias("extracted_text")
    )


@contract(
    oracle="""
        -- reconstruct the expected main content symbolically: the two
        -- real paragraphs survive iff >= 25 collapsed chars (the inline
        -- 'details' anchor adds 8), the heading is promoted iff the
        -- following paragraph is content, everything else (header, nav,
        -- sidebar, promo, aside, footer) is boilerplate by construction
        WITH b AS (
          SELECT doc_id,
                 trim(regexp_replace(substr(text, 1, 300),
                      '\\s+', ' ', 'g')) AS bt1,
                 trim(regexp_replace(substr(text, 301, 200) || ' details',
                      '\\s+', ' ', 'g')) AS bt2
          FROM documents
        ), k AS (
          SELECT doc_id,
                 list_filter([
                   CASE WHEN length(bt1) >= 25
                        THEN 'Section DOC' || doc_id END,
                   CASE WHEN length(bt1) >= 25 THEN bt1 END,
                   CASE WHEN length(bt2) >= 25 THEN bt2 END
                 ], x -> x IS NOT NULL) AS kept
          FROM b
        )
        SELECT doc_id,
               array_to_string(kept, chr(10)) AS main_text,
               CAST(4 AS INTEGER) AS n_blocks,
               CAST(len(kept) AS INTEGER) AS n_content_blocks,
               CAST(COALESCE(list_aggregate(
                      list_transform(kept, x -> length(x)), 'sum'),
                    0) AS BIGINT) AS content_chars
        FROM k
    """,
    plan="boilerplate strip, guarded: ONE scan, ONE Arrow UDF stage, zero shuffle",
    must=["ArrowEvalPython"],
    must_not=["Exchange", "Join", "Window"],
    nodes=_GUARDED_STAGE,
    plan_kwargs={"max_html_bytes": _JOB_HTML_CAP},
)
def q_main_content(spark, sf_dir, max_html_bytes=None):
    """Boilerplate removal (jusText-style) over synthesized crawl pages:
    header/nav/aside/footer/sidebar furniture plus a link-dense promo block
    wrap two real content paragraphs; the extractor must keep exactly the
    content (with heading promotion) and the DuckDB oracle reconstructs the
    expected main_text symbolically from ``documents.text`` — a hash match
    proves the DOM-ancestry kills, the length/link-density rule, and the
    block join are all byte-exact."""
    _ship_package(spark)
    from html_parser_spark.data.pages import _esc
    from html_parser_spark.ops.boilerplate import extract_main_content

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    p1 = F.substring("text", 1, 300)
    p2 = F.substring("text", 301, 200)
    html = F.concat(
        F.lit(
            "<!doctype html><html><head><title>b</title></head><body>\n"
            '<header><h1>Site</h1><nav><a href="/">Home</a> '
            '<a href="/about">About</a></nav></header>\n'
            '<div class="sidebar"><p>'
        ),
        _esc(F.substring("text", 1, 120)),
        F.lit('</p></div>\n<div id="content">\n<h2>Section DOC'),
        did,
        F.lit("</h2>\n<p>"),
        _esc(p1),
        F.lit(
            '</p>\n<p class="deals">Deal <a href="/x">now</a> '
            '<a href="/y">more great deals on this page</a></p>\n<p>'
        ),
        _esc(p2),
        F.lit(' <a href="/ref">details</a></p>\n</div>\n<aside><p>'),
        _esc(F.substring("text", 1, 100)),
        F.lit("</p></aside>\n<footer><p>Copyright 2024 "),
        _esc(F.substring("text", 1, 80)),
        F.lit(" all rights reserved</p></footer>\n</body></html>\n"),
    )
    pages = docs.select("doc_id", F.encode(html, "UTF-8").alias("html"))
    out = extract_main_content(pages, max_html_bytes=max_html_bytes)
    return out.select(
        "doc_id",
        "main_text",
        "n_blocks",
        "n_content_blocks",
        F.col("content_chars").cast("long").alias("content_chars"),
    )


@contract(
    oracle="""
        -- replay the COMPOSED flagship pipeline symbolically:
        -- noindex exclusion (doc_id % 5 = 0 pages carry the meta tag),
        -- latest-capture election (the vNEW body wins on warc_ts),
        -- jusText block rules (paragraph kept iff >= 25 collapsed
        -- chars; heading promoted iff its paragraph is content), and
        -- the repetition quality gate (n_tokens >= 5, top-word and
        -- dup-bigram fractions, round-4 like the Spark op).  The
        -- near-dup survivor stage is a designed pass-through: the
        -- injected per-doc u<id> token sits in every 3-gram shingle,
        -- so no two docs can share an LSH band; the final set is the
        -- gate's, row for row.
        WITH b AS (
          SELECT doc_id, lang,
                 trim(regexp_replace(substr(text, 1, 300), '\\s+',
                      ' u' || doc_id || ' ', 'g')) AS bt
          FROM documents
          WHERE doc_id % 5 <> 0
        ), ft AS (
          SELECT doc_id, lang,
                 array_to_string(list_filter([
                   CASE WHEN length(bt) >= 25
                        THEN 'Doc ' || doc_id || ' vNEW' END,
                   CASE WHEN length(bt) >= 25 THEN bt END
                 ], x -> x IS NOT NULL), chr(10)) AS text
          FROM b
        ), t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM ft
        ), tok AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                 unnest(w) AS tok
          FROM t
        ), wc AS (
          SELECT doc_id, n_tokens, tok, count(*) AS c
          FROM tok GROUP BY 1, 2, 3
        ), top AS (
          SELECT doc_id, n_tokens, round(max(c) / n_tokens, 4)
                   AS top_word_frac
          FROM wc GROUP BY doc_id, n_tokens
        ), bg AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 2 THEN
                   list_transform(generate_series(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i + 1])
                 ELSE [] END AS gs
          FROM t
        ), bgc AS (
          SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest(gs) AS g FROM bg) GROUP BY 1, 2
        ), dup AS (
          SELECT doc_id,
                 round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 4)
                   AS dup_bigram_frac
          FROM bgc GROUP BY doc_id
        ), gate AS (
          SELECT top.doc_id
          FROM top LEFT JOIN dup USING (doc_id)
          WHERE n_tokens >= 5 AND top_word_frac <= 0.5
            AND coalesce(dup_bigram_frac, 0.0) <= 0.9
        )
        SELECT ft.text, ft.lang,
               CAST(length(ft.text) AS BIGINT) AS n_chars
        FROM ft JOIN gate USING (doc_id)
    """,
)
def q_flagship_curate(spark, sf_dir):
    """End-to-end contract row for the COMPOSED pipeline: runs the real
    ``jobs/flagship_job.main()`` (extract → graph → curate, the same
    spark-submit entry production uses, with its chunked checkpoint, stage
    markers, and lineage writes) over closed-form synthesized crawl pages
    and returns the final curated-doc table.  Two captures per document
    (the newer one must win ``latest_capture``), a raw url needing
    canonicalization (uppercase scheme/host, :443, fragment), a
    ``<meta name=robots noindex>`` on every doc_id % 5 == 0 page (must be
    dropped), boilerplate furniture around one content paragraph.  The
    DuckDB oracle replays the whole chain symbolically: noindex exclusion,
    the jusText block rules + heading promotion, the latest capture's
    text, and the repetition quality gate.  The near-dup survivor election
    keeps the min xxhash64(url) per LSH cluster — not DuckDB-replayable —
    so the corpus is constructed so that NO cluster can form: a per-doc
    ``u<id>`` token is injected between every pair of paragraph words,
    which puts it in every 3-word shingle, making the shingle sets of any
    two documents provably disjoint (the testdata's deliberate
    near-duplicate pairs would otherwise collide and make the survivor
    engine-dependent).  The dedup stage must therefore pass every gated
    doc through unchanged — pinned by the row count AND the per-row hash.
    doc_id/split are projected out (they ride xxhash64(url), which DuckDB
    cannot replay); ``text`` is unique per doc so the hash pins every
    row."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.data.pages import _esc

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")

    def page(ver: str, sub_len: int):
        # inject ' u<doc_id> ' between every pair of paragraph words: every
        # 3-gram shingle then contains the doc-unique token, so MinHash-LSH
        # can never bucket two documents together (see docstring)
        para = F.regexp_replace(
            F.substring("text", 1, sub_len),
            r"\s+",
            F.concat(F.lit(" u"), did, F.lit(" ")),
        )
        return F.concat(
            F.lit("<html><head><title>p</title>"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit('<meta name="robots" content="noindex, follow">'),
            ).otherwise(F.lit("")),
            F.lit(
                '</head><body>\n<header><nav><a href="/">Home</a> '
                '<a href="/a">About</a> <a href="https://h'
            ),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".example.com/p/"),
            did,
            F.lit(
                '">peer</a></nav></header>\n'
                '<div id="content"><h2>Doc '
            ),
            did,
            F.lit(f" {ver}</h2>\n<p>"),
            _esc(para),
            F.lit(
                "</p></div>\n<footer><p>Copyright 2024 all rights "
                "reserved</p></footer>\n</body></html>"
            ),
        )

    raw_url = F.concat(
        F.lit("HTTPS://www.Site"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".com:443/p/"), did, F.lit("?q=1#frag"),
    )
    epoch = 1704067200  # fixed 2024-01-01T00:00:00Z — no now()
    cap_old = docs.select(
        raw_url.alias("url"),
        F.timestamp_seconds(F.lit(epoch) + F.col("doc_id")).alias("warc_ts"),
        F.encode(page("vOLD", 200), "UTF-8").alias("html"),
        "lang",
    )
    cap_new = docs.select(
        raw_url.alias("url"),
        F.timestamp_seconds(
            F.lit(epoch + 5_000_000) + F.col("doc_id")
        ).alias("warc_ts"),
        F.encode(page("vNEW", 300), "UTF-8").alias("html"),
        "lang",
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_flagship_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    pages_dir = os.path.join(base, "pages")
    out_dir = os.path.join(base, "out")
    cap_old.unionByName(cap_new).write.parquet(pages_dir)

    import jobs.flagship_job as flagship_job

    flagship_job.main([
        "--pages", pages_dir, "--output", out_dir, "--partitions", "8",
        "--min-tokens", "5", "--num-hashes", "4", "--bands", "2",
    ])
    final = spark.read.parquet(os.path.join(out_dir, "curate", "docs"))
    return final.select(
        "text", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


@contract(
    oracle="""
        -- rebuild every metadata field symbolically: titles/descriptions
        -- are whitespace-collapsed substrings of text, canonical and the
        -- second outlink are root-relative hrefs resolved against the
        -- page url, og:title exists only for even doc_ids, the mailto:
        -- anchor counts toward n_anchors but emits no edge
        SELECT doc_id,
               'https://www.site' || (doc_id % 10) || '.com/pages/'
                   || doc_id || '.html' AS url,
               'Doc ' || doc_id || ' :: '
                   || trim(regexp_replace(substr(text, 1, 40),
                           '\\s+', ' ', 'g')) AS title,
               trim(regexp_replace(substr(text, 1, 80),
                    '\\s+', ' ', 'g')) AS description,
               'https://www.site' || (doc_id % 10) || '.com/d/'
                   || doc_id AS canonical,
               CASE WHEN doc_id % 2 = 0 THEN 'OG ' || doc_id END
                   AS og_title,
               'utf-8' AS charset,
               array_to_string(
                   ['https://h' || (doc_id % 40) || '.example.com/p'
                        || doc_id,
                    'https://www.site' || (doc_id % 10) || '.com/local/'
                        || ((doc_id * 3) % 7)], '|') AS outlinks,
               CAST(3 AS INTEGER) AS n_anchors
        FROM documents
    """,
    plan="metadata/outlink extraction is ONE Arrow UDF, zero shuffle",
    must=["ArrowEvalPython"],
    must_not=["Exchange", "Join", "Window"],
)
def q_html_meta(spark, sf_dir):
    """Page-identity metadata + outlink extraction (ops/html_meta.py) over
    synthesized crawl pages: title/description whitespace collapse, relative
    canonical + hrefs absolutized against the page url, charset sniff,
    skip-scheme (mailto:) anchors counted but not emitted as edges, Open
    Graph tags present only on even doc_ids.  The DuckDB oracle rebuilds
    every field symbolically from ``documents`` — a hash match proves the
    DOM walk, urljoin semantics, and doc-order outlink dedup are exact."""
    _ship_package(spark)
    from html_parser_spark.data.pages import _esc
    from html_parser_spark.ops.html_meta import extract_page_meta

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><meta charset="UTF-8"><title>Doc '),
        did,
        F.lit(" :: "),
        _esc(F.substring("text", 1, 40)),
        F.lit('</title>\n<meta name="description" content="'),
        _esc(F.substring("text", 1, 80)),
        F.lit('">\n'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<meta property="og:title" content="OG '), did,
                     F.lit('">\n')),
        ).otherwise(F.lit("")),
        F.lit('<link rel="canonical" href="/d/'),
        did,
        F.lit('"></head><body>\n<a href="https://h'),
        (F.col("doc_id") % 40).cast("string"),
        F.lit(".example.com/p"),
        did,
        F.lit('">x</a>\n<a href="/local/'),
        ((F.col("doc_id") * 3) % 7).cast("string"),
        F.lit('">y</a>\n<a href="mailto:a@b.example">m</a>\n</body></html>'),
    )
    site = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".com"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(site, F.lit("/pages/"), did, F.lit(".html")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    out = extract_page_meta(pages)
    # The driver canonicalizes results via pandas sort_values, which cannot
    # sort list-valued cells (round-4 `err`): serialize the array column to
    # one scalar string.  '|' never occurs in the synthesized URLs.
    return out.select(
        "doc_id", "url", "title", "description", "canonical", "og_title",
        "charset",
        F.array_join("outlinks", "|").alias("outlinks"),
        F.col("n_anchors").cast("int").alias("n_anchors"),
    )


def _synth_host_edges(docs):
    """The shared synthetic 45-host graph for q_pagerank / q_crawl_budget /
    q_graph_stats — ONE builder so the three queries and their oracles
    (which replicate the same e0/edges CTEs) can never desynchronize."""
    d = F.col("doc_id")
    e1 = docs.select((d % 40).alias("s"), ((d * 7 + 3) % 40).alias("t"))
    e2 = docs.select((d % 40).alias("s"), ((d * 13 + 11) % 45).alias("t"))
    return (
        e1.union(e2)
        .filter(F.col("s") != F.col("t"))
        .select(
            F.concat(F.lit("h"), F.col("s").cast("string")).alias("src"),
            F.concat(F.lit("h"), F.col("t").cast("string")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def _pagerank_oracle_sql(iterations: int = 3) -> str:
    """Unrolled-CTE replica of ops/linkgraph.pagerank_fixed_point over the
    q_pagerank synthetic graph.  Every step is 64-bit integer arithmetic
    (``//`` floor division, positive operands), so the chain is bit-exact
    against Spark regardless of shuffle/aggregation order."""
    S, num, den = 10**12, 85, 100
    parts = [f"""e0 AS (
  SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
), edges AS (
  SELECT 'h' || s AS src, 'h' || t AS dst, CAST(COUNT(*) AS BIGINT) AS weight
  FROM e0 WHERE s <> t GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
), outw AS (
  SELECT src, CAST(SUM(weight) AS BIGINT) AS w_out FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST({S} // n AS BIGINT) AS rank FROM nodes, nn
)"""]
    for k in range(iterations):
        parts.append(f""", d{k} AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM r{k} WHERE node NOT IN (SELECT src FROM outw)
), c{k} AS (
  SELECT e.dst AS node,
         CAST(SUM((r.rank * e.weight) // o.w_out) AS BIGINT) AS in_sum
  FROM edges e
  JOIN r{k} r ON r.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), r{k + 1} AS (
  SELECT n.node,
         CAST(({den - num} * {S}) // ({den} * nn.n)
              + ({num} * (COALESCE(c.in_sum, 0) + d{k}.dang // nn.n)) // {den}
              AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{k} c ON c.node = n.node, nn, d{k}
)""")
    return "WITH " + "".join(parts) + f"\nSELECT node, rank FROM r{iterations}"


@contract(
    oracle=_pagerank_oracle_sql(3),
    plan=(
        "edge/rank equi-joins + partial-agg sums; dangling mass is a 1-row broadcast, "
        "never a cross join over nodes"
    ),
    must=["HashAggregate", "Join"],
    must_not=["CartesianProduct"],
    plan_kwargs={"checkpoint": False},
)
def q_pagerank(spark, sf_dir, checkpoint=True):
    """Host-level PageRank in fixed-point integer arithmetic
    (ops/linkgraph.py): a synthetic 45-host graph derived from doc_id
    arithmetic (hosts 40-44 are dangling — inlinks only), 3 iterations,
    damping 85/100, total mass 10^12.  Integer mass units make the
    iteration bit-exact and shuffle-order-independent, so the DuckDB
    oracle's unrolled-CTE replica hash-matches EXACTLY — something a
    float PageRank can never do across engines.  ``checkpoint=False`` is
    for the plan audit: localCheckpoint truncates lineage, which is the
    point at scale but hides the per-iteration join shape from explain."""
    docs = _docs(spark, sf_dir)
    from html_parser_spark.ops.linkgraph import pagerank_fixed_point

    edges = _synth_host_edges(docs)
    return pagerank_fixed_point(edges, iterations=3, checkpoint=checkpoint).select(
        "node", F.col("rank").cast("long").alias("rank")
    )


@contract(
    oracle="""
        -- expected = DuckDB's OWN nfc_normalize (utf8proc) over the
        -- invisible-stripped text: ZWSP + soft hyphen vanish (2
        -- invisibles), the decomposed e+U+0301 must compose to é —
        -- cross-engine Unicode-normalization equality, not regex echo
        SELECT doc_id,
               CAST(2 AS BIGINT) AS n_invisibles,
               nfc_normalize(text || ' e' || chr(769) || 'tude fin')
                   AS clean_text
        FROM documents
    """,
    plan="invisible strip JVM-side, ONE Arrow NFC stage, zero shuffle",
    must=["ArrowEvalPython"],
    must_not=["Exchange", "Join", "Window"],
)
def q_text_clean(spark, sf_dir):
    """Unicode web-text cleanup (ops/text.py): plant a zero-width space,
    a soft hyphen, and a DECOMPOSED e+combining-acute after each document's
    text; the op must count+strip the invisibles and NFC-compose the rest.
    The oracle computes the expected output with DuckDB's own
    ``nfc_normalize`` (utf8proc) against Python's unicodedata — a hash
    match is a cross-engine Unicode-normalization equality proof, not just
    a regex check."""
    _ship_package(spark)
    from html_parser_spark.ops.text import clean_web_text

    docs = _docs(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\u200b e\u0301tude\u00ad fin"),
        ).alias("text"),
    )
    out = clean_web_text(dirty)
    return out.select(
        "doc_id",
        F.col("n_invisibles").cast("long").alias("n_invisibles"),
        "clean_text",
    )


@contract(
    oracle="""
        -- re-derive the exploded sitemap rows: index hosts emit one
        -- child-sitemap loc, urlset hosts two page locs (whitespace
        -- around the second loc must be trimmed by the parser)
        SELECT 's' || (doc_id % 10) AS host, 'sitemap' AS kind,
               'https://s' || (doc_id % 10) || '.com/child' || doc_id
                   || '.xml' AS loc
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT 's' || (doc_id % 10), 'url',
               'https://s' || (doc_id % 10) || '.com/p' || doc_id
        FROM documents WHERE doc_id % 20 <> 0
        UNION ALL
        SELECT 's' || (doc_id % 10), 'url',
               'https://s' || (doc_id % 10) || '.com/q' || doc_id
        FROM documents WHERE doc_id % 20 <> 0
    """,
    plan="regexp_extract_all + narrow explode, zero Python/shuffle",
    must=["Generate"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_sitemap(spark, sf_dir):
    """Sitemap parsing (ops/web.sitemap_urls): most hosts publish a urlset
    with two page entries (one whitespace-padded), every 20th doc publishes
    a sitemapindex instead; the oracle re-derives the exploded (host, kind,
    loc) rows symbolically."""
    from html_parser_spark.ops.web import sitemap_urls

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 10).cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>https://s'), h,
        F.lit(".com/p"), did,
        F.lit("</loc></url><url><loc>  https://s"), h,
        F.lit(".com/q"), did, F.lit(" </loc></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://s"), h,
        F.lit(".com/child"), did,
        F.lit(".xml</loc></sitemap></sitemapindex>"),
    )
    maps = docs.select(
        F.concat(F.lit("s"), h).alias("host"),
        F.when(F.col("doc_id") % 20 == 0, index).otherwise(urlset).alias("body"),
    )
    return sitemap_urls(maps).select("host", "kind", "loc")


@contract(
    oracle="""
        -- the same 16-bit md5-prefix bucket via strpos arithmetic;
        -- thresholds = fraction * 65536 (en 25%, zh 75%, de 50%,
        -- es/fr dropped)
        WITH b AS (
          SELECT doc_id, lang,
                 md5('strat' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ), v AS (
          SELECT doc_id, lang,
                 (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)
                   AS bucket
          FROM b
        )
        SELECT doc_id, lang FROM v
        WHERE bucket < CASE lang WHEN 'en' THEN 16384
                                 WHEN 'zh' THEN 49152
                                 WHEN 'de' THEN 32768
                                 ELSE 0 END
    """,
    plan="pure per-row hash filter, zero shuffle",
    must=["Filter"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join", "Window"],
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum corpus sampling
    (ops/corpus.stratified_sample): keep a doc iff its 16-bit md5-prefix
    bucket clears its language's fraction — downsample en to 25%, keep
    75% of zh, half of de, drop es/fr.  Pure filter expression (zero
    shuffle); the oracle reproduces the md5 bucket with strpos arithmetic,
    so BOTH engines pick the exact same doc_ids."""
    from html_parser_spark.ops.corpus import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, {"en": 0.25, "zh": 0.75, "de": 0.5}, strat_col="lang"
    )


@contract(
    oracle="""
        -- lowercase whitespace tokenization; both counters in
        -- one GROUP BY; rank = count desc, term asc over the top 50
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> len(x) > 0)) AS term
          FROM documents
        ), v AS (
          SELECT term, count(*) AS term_count,
                 count(DISTINCT doc_id) AS doc_count
          FROM toks GROUP BY term
        )
        SELECT term, term_count, doc_count,
               row_number() OVER (ORDER BY term_count DESC, term ASC)
                 AS rank
        FROM v ORDER BY term_count DESC, term ASC LIMIT 50
    """,
    plan=(
        "partial-agg groupBy + distributed TakeOrdered (no full-vocab single-partition "
        "sort)"
    ),
    must=["HashAggregate", "TakeOrderedAndProject"],
    must_not=["ArrowEvalPython", "BatchEvalPython"],
)
def q_vocab(spark, sf_dir):
    """Corpus vocabulary builder (ops/corpus.build_vocab): top-50 terms
    with occurrence + document-frequency counts and a deterministic rank
    (count desc, term asc) — the tokenizer-training / OOV-audit seed
    table.  One explode + one groupBy with partial aggs; ranking via
    distributed orderBy+limit, never a full-vocab single-partition sort."""
    from html_parser_spark.ops.corpus import build_vocab

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return build_vocab(docs, k=50)


# Fixed seed word-frequency table for the BPE contract query: the merge
# list is a pure function of this literal (train_bpe is deterministic —
# ties break to the lexicographically smallest pair), so the Spark query
# and the DuckDB oracle derive the IDENTICAL merges independently.  The
# corpus-trained path (word_freqs over the real table -> train_bpe) is
# exercised in tests/test_bpe.py; the contract query pins the corpus-scale
# ENCODE stage, which is the part that runs at 10^12 rows.
_BPE_SEED_FREQS = [
    ("the", 60),
    ("table", 50),
    ("value", 45),
    ("data", 40),
    ("spark", 35),
    ("window", 30),
    ("query", 26),
    ("batch", 22),
    ("stream", 19),
    ("filter", 16),
    ("scan", 13),
    ("customer", 11),
    ("partition", 9),
    ("merge", 7),
]
_BPE_SEED_N_MERGES = 16


def _bpe_seed_merges() -> list[tuple[str, str]]:
    from html_parser_spark.ops.bpe import train_bpe

    return train_bpe(_BPE_SEED_FREQS, n_merges=_BPE_SEED_N_MERGES)


def _bpe_word_sql() -> str:
    # Symbolic BPE encode: a word becomes '‖c1‖‖c2‖…‖</w>‖' and each merge
    # (a,b) is a left-to-right replace of '‖a‖‖b‖' with '‖ab‖', applied in
    # rank order (innermost = rank 0).  The merge literals are ASCII from
    # the fixed seed table, so no SQL-quoting hazard; the delimiter char is
    # stripped from the input on BOTH engines.
    bpe_word = (
        "list_aggregate(list_transform(regexp_split_to_array(w, ''),"
        " c -> '‖' || c || '‖'), 'string_agg', '') || '‖</w>‖'"
    )
    for _a, _b in _bpe_seed_merges():
        bpe_word = f"replace({bpe_word}, '‖{_a}‖‖{_b}‖', '‖{_a}{_b}‖')"
    return bpe_word


@contract(
    oracle=lambda: f"""
        WITH d AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(
                     lower(trim(replace(text, '‖', ''))), '\\s+'),
                   x -> len(x) > 0) AS words
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(len(words) AS BIGINT) AS n_words,
                 coalesce(list_aggregate(
                   list_transform(words, w -> {_bpe_word_sql()}),
                   'string_agg', ''), '') AS stream
          FROM d
        )
        SELECT doc_id, n_words,
               CAST((len(stream) - len(replace(stream, '‖', ''))) // 2
                    AS BIGINT) AS n_tokens,
               CASE WHEN stream = '' THEN ''
                    ELSE replace(trim(stream, '‖'), '‖‖', ' ')
               END AS bpe_text
        FROM s
    """,
    plan=(
        "learned-subword corpus encode: scan → single mapInArrow (merges in the "
        "closure), zero shuffle"
    ),
    must=["MapInArrow"],
    must_not=["Exchange", "Window", "Join", "BatchEvalPython"],
)
def q_bpe_encode(spark, sf_dir):
    """Learned-subword (BPE) corpus encoding (ops/bpe.bpe_encode): apply a
    deterministic seed-trained merge list to every document — ONE
    mapInArrow stage, zero shuffle, merges shipped in the closure (the
    broadcast-dim pattern), per-batch word memoization riding Zipf.
    Returns (doc_id, n_words, n_tokens, bpe_text).  The oracle replays the
    encode symbolically in DuckDB: each word becomes a ``‖``-delimited
    symbol string and the merges are applied as a rank-ordered replace
    chain — exact because (a) left-to-right replace-all equals the
    kernel's non-overlapping merge order and (b) for a BPE-trained merge
    list, sequential exhaustive application in rank order is equivalent to
    priority-queue encoding (every merge's components are created only by
    earlier-ranked merges, and merging never creates an adjacency an
    earlier pair could consume)."""
    from html_parser_spark.ops.bpe import bpe_encode

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", "‖", "").alias("text")
    )
    return bpe_encode(docs, _bpe_seed_merges())


@contract(
    oracle="""
        -- symbolic replay of every C4 rule over the same closed-form
        -- multi-line pages: split/trim, terminal punctuation, >=3
        -- words, no 'javascript'; page: no lorem ipsum, no brace,
        -- >=3 kept lines
        WITH src AS (
          SELECT doc_id,
            'This is a fine opening line number ' || doc_id || '.'
              || chr(10) ||
            'too short.' || chr(10) ||
            'Please enable javascript to continue.' || chr(10) ||
            'no terminal punctuation here' || chr(10) ||
            repeat('Another perfectly good line indeed.' || chr(10),
                   CAST(doc_id % 5 AS INT)) ||
            CASE WHEN doc_id % 17 = 0
                 THEN 'We sprinkle Lorem Ipsum here.' || chr(10)
                 ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
                 THEN 'function() { return 1; }' || chr(10)
                 ELSE '' END ||
            'closing line with a full stop.' AS text
          FROM documents
        ), l AS (
          SELECT doc_id, text,
                 list_transform(string_split(text, chr(10)),
                                x -> trim(x)) AS lines
          FROM src
        ), k AS (
          SELECT doc_id, text, lines,
                 list_filter(lines, x ->
                   regexp_matches(x, '[.!?"”]$')
                   AND len(regexp_split_to_array(x, '\\s+')) >= 3
                   AND NOT contains(lower(x), 'javascript')) AS kept
          FROM l
        )
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines_in,
               CAST(len(kept) AS BIGINT) AS n_lines_kept,
               (NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND len(kept) >= 3) AS page_keep,
               array_to_string(kept, chr(10)) AS clean_text
        FROM k
    """,
    plan=(
        "C4 line cleaning is pure codegen (split/filter/join inside one projection): "
        "zero shuffle, zero Python"
    ),
    must=["*(1)"],
    must_not=["Exchange", "Window", "Join", "ArrowEvalPython", "BatchEvalPython",
              "Generate"],
)
def q_c4_lines(spark, sf_dir):
    """C4 line-level cleaning (ops/text.c4_line_filter, Raffel et al.
    §2.2): multi-line pages synthesized in closed form — a good opening
    line, a 2-word line, a 'javascript' line, a line with no terminal
    punctuation, doc_id%5 extra good lines, a lorem-ipsum line on %17
    pages, a curly-brace line on %13 pages, and a good closing line.
    The oracle replays every rule symbolically (same split/trim/regexp/
    word-count/contains chain), so the hash pins line AND page rules."""
    from html_parser_spark.ops.text import c4_line_filter

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    text = F.concat(
        F.lit("This is a fine opening line number "), d, F.lit("."), nl,
        F.lit("too short."), nl,
        F.lit("Please enable javascript to continue."), nl,
        F.lit("no terminal punctuation here"), nl,
        F.repeat(
            F.lit("Another perfectly good line indeed.\n"),
            F.pmod("doc_id", F.lit(5)).cast("int"),
        ),
        F.when(
            F.expr("doc_id % 17 = 0"),
            F.lit("We sprinkle Lorem Ipsum here.\n"),
        ).otherwise(F.lit("")),
        F.when(
            F.expr("doc_id % 13 = 0"),
            F.lit("function() { return 1; }\n"),
        ).otherwise(F.lit("")),
        F.lit("closing line with a full stop."),
    )
    pages = docs.select("doc_id", text.alias("text"))
    return c4_line_filter(pages, min_words_per_line=3, min_kept_lines=3)


@contract(
    oracle="""
        -- identical sentinel-injection split: terminal punct +
        -- whitespace becomes punct + U+241E, split, trim, drop empty
        WITH src AS (
          SELECT doc_id,
                 'First sentence number ' || doc_id
                   || ' here.  Second one follows!   Is this the third? '
                   || text || '.' AS t
          FROM documents
        ), sp AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(
                     string_split(
                       regexp_replace(trim(t), '([.!?])\\s+', '\\1␞', 'g'),
                       '␞'),
                     x -> trim(x)),
                   x -> len(x) > 0) AS sents
          FROM src
        )
        SELECT doc_id,
               CAST(unnest(generate_series(0, len(sents) - 1)) AS BIGINT)
                 AS sent_idx,
               unnest(sents) AS sentence,
               CAST(len(regexp_split_to_array(unnest(sents), '\\s+'))
                    AS BIGINT) AS n_sent_tokens
        FROM sp
    """,
    plan=(
        "sentence segmentation is narrow replace/split/explode: zero shuffle, zero "
        "Python"
    ),
    must=["Generate"],
    must_not=["Exchange", "Window", "Join", "ArrowEvalPython", "BatchEvalPython"],
)
def q_sentence_split(spark, sf_dir):
    """Sentence segmentation (ops/text.sentence_split): pages synthesized
    with a closed-form 4-sentence shape (declarative + exclamation +
    question + the doc's own words as the final period-terminated
    sentence).  The oracle replays the identical sentinel-injection
    split in RE2 — boundary rule, trimming, empties, and token counts
    all hash-pinned."""
    from html_parser_spark.ops.text import sentence_split

    docs = _docs(spark, sf_dir)
    text = F.concat(
        F.lit("First sentence number "),
        F.col("doc_id").cast("string"),
        F.lit(" here.  Second one follows!   Is this the third? "),
        F.col("text"),
        F.lit("."),
    )
    return sentence_split(docs.select("doc_id", text.alias("text")))


@contract(
    oracle="""
        -- α=0.5 temperature mixing: w_k = isqrt(c_k) (exact below
        -- 2^52), S = Σ w (integer — order-independent), threshold_k =
        -- least(65536, (65536·T·w_k) // (S·c_k)) in pure integer
        -- arithmetic; kept = docs whose 16-bit md5('mix'||id) bucket
        -- clears the threshold
        WITH c AS (
          SELECT lang AS stratum, count(*) AS n_docs,
                 CAST(floor(sqrt(count(*))) AS BIGINT) AS w
          FROM documents GROUP BY lang
        ), s AS (
          SELECT CAST(sum(w) AS BIGINT) AS s_tot,
                 CAST(sum(n_docs) AS BIGINT) AS t_tot
          FROM c
        ), plan AS (
          SELECT stratum, n_docs,
                 least(65536,
                       (65536::HUGEINT * t_tot * w) // (s_tot * n_docs))
                   AS threshold
          FROM c, s
        ), b AS (
          SELECT lang AS stratum,
                 (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096
               + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256
               + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)
                   AS bucket
          FROM (SELECT lang, md5('mix' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents)
        ), k AS (
          SELECT b.stratum, count(*) AS kept
          FROM b JOIN plan USING (stratum)
          WHERE b.bucket < plan.threshold
          GROUP BY b.stratum
        )
        SELECT plan.stratum, CAST(plan.n_docs AS BIGINT) AS n_docs,
               CAST(plan.threshold AS BIGINT) AS threshold,
               CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept
        FROM plan LEFT JOIN k USING (stratum)
    """,
    plan=(
        "partial-agg stratum counts, 1-row broadcast denominator, tiny threshold dim "
        "broadcast back onto docs"
    ),
    must=["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin"],
    must_not=["CartesianProduct", "SortMergeJoin", "ArrowEvalPython",
              "BatchEvalPython"],
)
def q_temperature_mix(spark, sf_dir):
    """Temperature-based mixture rebalancing (ops/corpus.temperature_mix_plan,
    the XLM-R/mT5 α-sampling rule at α=0.5): per-language sampling
    thresholds reshaping the corpus toward p_k ∝ √c_k, plus the count of
    docs the deterministic md5-bucket filter keeps.  Integer-exact end to
    end: isqrt weights, integer-SUM denominator (order-independent,
    unlike a float sum), exact decimal `div` for the threshold."""
    from html_parser_spark.ops.corpus import temperature_mix_plan

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return temperature_mix_plan(docs, alpha_pct=50)


@contract(
    oracle="""
        -- recompute the per-url accounting straight from documents;
        -- matching md5 per url == the WET conversion-record
        -- writer->reader round-trip preserved every text byte
        SELECT 'https://d' || (doc_id % 20) || '.example.org/doc/' || doc_id
                 AS url,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                        '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS body_md5,
               'conversion' AS warc_type,
               'text/plain' AS content_type
        FROM documents
    """,
    plan="WET sidecar read is the same shuffle-free scan → single mapInArrow",
    must=["MapInArrow"],
    must_not=["Exchange", "Window"],
)
def q_wet_roundtrip(spark, sf_dir):
    """WET sidecar sink (Common Crawl's ``*.warc.wet.gz`` extracted-text
    format, sources/warc.write_wet_files): synthesize per-doc extracted
    text, write it as per-record-gzip conversion records, read it back
    through the same binaryFile→mapInArrow parser (conversion records
    carry raw bodies — no HTTP splitting), and emit per-url byte
    accounting.  The oracle recomputes the columns straight from
    ``documents``; a hash match proves the conversion-record writer→reader
    round-trip preserves every text byte and field."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.sources.warc import read_warc, write_wet_files

    docs = _docs(spark, sf_dir)
    wet = docs.select(
        F.concat(
            F.lit("https://d"),
            F.pmod("doc_id", F.lit(20)).cast("string"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        # fixed epoch (2024-01-01T00:00:00Z) + doc_id seconds — no now()
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.col("text"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_wet_rt_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_wet_files(wet.repartition(8), out, compress=True)
    w = read_warc(spark, os.path.join(out, "*.warc.wet.gz"))
    return w.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("body_md5"),
        "warc_type",
        "content_type",
    )


@contract(
    oracle="""
        -- every WAT field in closed form per synthesized page:
        -- title T<d>, description D<d>, the deduped outlink (two
        -- anchors share one href -> outlinks[1] IS NULL), n_anchors
        -- counts both; conversion framing fields are constants
        SELECT 'https://d' || (doc_id % 20) || '.example.org/doc/' || doc_id
                 AS url,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                        '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               'metadata' AS warc_type,
               'application/json' AS content_type,
               'T' || doc_id AS title,
               'D' || doc_id AS description,
               'https://out.example.org/p' || doc_id AS outlink0,
               CAST(NULL AS VARCHAR) AS outlink1,
               2 AS n_anchors
        FROM documents
    """,
    plan=(
        "WAT sidecar read: shuffle-free scan → single mapInArrow, JSON fields "
        "re-extracted JVM-side"
    ),
    must=["MapInArrow"],
    must_not=["Exchange", "Window"],
)
def q_wat_roundtrip(spark, sf_dir):
    """WAT sidecar sink (Common Crawl's ``*.warc.wat.gz`` JSON metadata
    format, sources/warc.write_wat_files): synthesize pages whose title /
    description / anchors are closed-form, run the REAL metadata kernel +
    JSON envelope + metadata-record writer, read back through the WARC
    parser, and re-extract the fields from the JSON payload — the oracle
    states every expected field directly, so a hash match proves the
    kernel, the envelope, and the writer→reader round-trip at once.
    Anchor semantics pinned: duplicate hrefs collapse in ``outlinks`` but
    both count in ``n_anchors``."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.sources.warc import read_warc, write_wat_files

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://d"),
        F.pmod("doc_id", F.lit(20)).cast("string"),
        F.lit(".example.org/doc/"),
        d,
    )
    html = F.concat(
        F.lit("<html><head><title>T"), d,
        F.lit('</title><meta name="description" content="D'), d,
        F.lit('"></head><body><a href="https://out.example.org/p'), d,
        F.lit('">x</a><a href="https://out.example.org/p'), d,
        F.lit('">y</a></body></html>'),
    )
    pages = docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_wat_rt_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_wat_files(pages.repartition(8), out, compress=True)
    w = read_warc(spark, os.path.join(out, "*.warc.wat.gz"))
    j = F.decode("html", "UTF-8")
    return w.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "warc_type",
        "content_type",
        F.get_json_object(j, "$.title").alias("title"),
        F.get_json_object(j, "$.description").alias("description"),
        F.get_json_object(j, "$.outlinks[0]").alias("outlink0"),
        F.get_json_object(j, "$.outlinks[1]").alias("outlink1"),
        F.get_json_object(j, "$.n_anchors").cast("int").alias("n_anchors"),
    )


@contract(
    oracle="""
        -- every expected (host, sitemap_url) row in closed form per
        -- body family: 0 = one line inside a UA group, 1 = two
        -- case-variant lines (inline comment stripped), 2 = none,
        -- 3 = indented, no space after the colon
        WITH d AS (
          SELECT doc_id, 'h' || doc_id || '.example.org' AS host,
                 CAST(doc_id AS VARCHAR) AS s, doc_id % 4 AS fam
          FROM documents
        )
        SELECT host, 'https://s.example.org/map' || s || '.xml' AS sitemap_url
          FROM d WHERE fam = 0
        UNION ALL
        SELECT host, 'https://s.example.org/a' || s || '.xml' FROM d WHERE fam = 1
        UNION ALL
        SELECT host, 'https://s.example.org/b' || s || '.xml' FROM d WHERE fam = 1
        UNION ALL
        SELECT host, 'https://s.example.org/c' || s || '.xml' FROM d WHERE fam = 3
    """,
    plan=(
        "group-independent directive: regexp + narrow explode, zero "
        "Python/shuffle/window"
    ),
    must=["Generate"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Window", "Join"],
)
def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt (ops/robots.robots_sitemaps — the
    RFC 9309 §2.3 group-independent directive): four body families built
    in closed form (inside a UA group, two case-variant lines with an
    inline comment, none, indented with no space after the colon), so the
    oracle states every expected (host, sitemap_url) row directly."""
    from html_parser_spark.ops.robots import robots_sitemaps

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    m4 = F.pmod("doc_id", F.lit(4))
    body = (
        F.when(m4 == 0, F.concat(
            F.lit("User-agent: *\nDisallow: /x\nSitemap: https://s.example.org/map"),
            d, F.lit(".xml\n")))
        .when(m4 == 1, F.concat(
            F.lit("sitemap: https://s.example.org/a"), d,
            F.lit(".xml # primary\nSiteMap: https://s.example.org/b"), d,
            F.lit(".xml\n")))
        .when(m4 == 2, F.lit("User-agent: *\nDisallow: /private\n"))
        .otherwise(F.concat(
            F.lit("  Sitemap:https://s.example.org/c"), d, F.lit(".xml")))
    )
    robots = docs.select(
        F.concat(F.lit("h"), d, F.lit(".example.org")).alias("host"),
        body.alias("body"),
    )
    return robots_sitemaps(robots)


@contract(
    oracle="""
        -- the sequential semantics the distributed prefix-sum must
        -- reproduce exactly: global running byte sum in doc_id order,
        -- exclusive offsets, integer shard division
        WITH s AS (
          SELECT doc_id,
                 CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
                   AS n_bytes
          FROM documents
        )
        SELECT doc_id, n_bytes,
               CAST(COALESCE(sum(n_bytes) OVER (
                      ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS start_offset,
               CAST(COALESCE(sum(n_bytes) OVER (
                      ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) // 262144 AS BIGINT) AS shard_id
        FROM s
    """,
    plan=(
        "distributed prefix-sum: range exchange + PARTITIONED local-cumsum window + "
        "tiny offsets broadcast (never a global single-partition window over the "
        "corpus)"
    ),
    must=["Window", "BroadcastHashJoin"],
    must_not=["CartesianProduct", "SortMergeJoin", "ArrowEvalPython"],
)
def q_pack_shards(spark, sf_dir):
    """Byte-balanced shard packing for training export
    (ops/corpus.pack_shards): docs ordered by id, running byte offsets via
    the DISTRIBUTED prefix-sum (range partitions → local cumsums → P-row
    offset rollup broadcast back; never a global single-partition window),
    shard = start_offset div 256KB.  The oracle is the plain global
    running sum — a hash match proves the two-level decomposition equals
    the sequential semantics exactly."""
    from html_parser_spark.ops.corpus import pack_shards

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return pack_shards(docs, shard_bytes=262144, num_partitions=8)


@contract(
    oracle="""
        -- sequential packing semantics: global running slot sum in
        -- doc_id order (n_tokens + 1 EOD slot per doc), one row per
        -- sequence the doc's slot span [start, start+n_slots) covers
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(
                   regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                   x -> len(x) > 0)) + 1 AS BIGINT) AS n_slots
          FROM documents
        ), o AS (
          SELECT doc_id, n_slots,
                 CAST(COALESCE(sum(n_slots) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS start_offset
          FROM t
        ), e AS (
          SELECT doc_id, n_slots, start_offset,
                 unnest(generate_series(start_offset // 128,
                                        (start_offset + n_slots - 1) // 128))
                   AS seq_id
          FROM o
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(start_offset, seq_id * 128) - seq_id * 128
                    AS BIGINT) AS seq_off,
               CAST(greatest(start_offset, seq_id * 128) - start_offset
                    AS BIGINT) AS doc_off,
               CAST(least(start_offset + n_slots, (seq_id + 1) * 128)
                    - greatest(start_offset, seq_id * 128)
                    AS BIGINT) AS slice_len,
               least(start_offset + n_slots, (seq_id + 1) * 128)
                 = start_offset + n_slots AS eod
        FROM e
    """,
    plan=(
        "concat-and-split packing: same distributed prefix-sum as pack_shards, then a "
        "narrow Generate fan-out (no extra shuffle, no Python stage)"
    ),
    must=["Window", "BroadcastHashJoin", "Generate"],
    must_not=["CartesianProduct", "SortMergeJoin", "ArrowEvalPython",
              "BatchEvalPython"],
)
def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split sequence packing
    (ops/corpus.pack_sequences): every doc's whitespace tokens + one EOD
    slot laid end-to-end in doc_id order, cut into 128-slot training
    sequences — docs span boundaries, zero padding except the tail.  Same
    distributed prefix-sum as q_pack_shards below the fan-out; the oracle
    replays the sequential semantics with a global running sum +
    generate_series per covered sequence — hash match proves offsets AND
    the per-(seq, doc) slice arithmetic."""
    from html_parser_spark.ops.corpus import pack_sequences

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return pack_sequences(docs, seq_len=128, num_partitions=8)


@contract(
    oracle="""
        -- execute the packing plan symbolically: per-doc slot array
        -- (tokens + EOD marker), global running offsets, list_slice
        -- per covered sequence, reassembled in seq_off order
        WITH t AS (
          SELECT doc_id,
                 list_append(list_filter(
                   regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                   x -> len(x) > 0), '<|eod|>') AS slots
          FROM documents
        ), o AS (
          SELECT doc_id, slots,
                 CAST(len(slots) AS BIGINT) AS n_slots,
                 CAST(COALESCE(sum(len(slots)) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS start_offset
          FROM t
        ), e AS (
          SELECT doc_id, slots, n_slots, start_offset,
                 unnest(generate_series(start_offset // 128,
                                        (start_offset + n_slots - 1) // 128))
                   AS seq_id
          FROM o
        ), s AS (
          SELECT seq_id,
                 greatest(start_offset, seq_id * 128) - seq_id * 128
                   AS seq_off,
                 least(start_offset + n_slots, (seq_id + 1) * 128)
                   - greatest(start_offset, seq_id * 128) AS slice_len,
                 array_to_string(list_slice(slots,
                   greatest(start_offset, seq_id * 128) - start_offset + 1,
                   least(start_offset + n_slots, (seq_id + 1) * 128)
                     - start_offset), ' ') AS piece
          FROM e
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id,
               CAST(sum(slice_len) AS BIGINT) AS n_slots,
               string_agg(piece, ' ' ORDER BY seq_off) AS seq_text
        FROM s GROUP BY seq_id
    """,
    plan=(
        "plan execution: ONE doc_id equi-join + ONE groupBy(seq_id) over pre-sliced "
        "pieces (per-group payload bounded by seq_len; no Python stage, no cartesian)"
    ),
    must=["Window", "Join"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "ArrowEvalPython",
              "BatchEvalPython"],
)
def q_seq_materialize(spark, sf_dir):
    """Packed-dataset writer (ops/corpus.materialize_sequences): execute
    the q_pack_sequences plan — slice each doc's token+EOD slot array per
    plan row BEFORE the groupBy (no full document ever rides a group),
    reassemble every 128-slot training sequence's text in seq_off order
    via array_sort (shuffle-order independent).  The oracle rebuilds each
    sequence with list_slice + ordered string_agg over the same exploded
    plan — hash match proves plan execution end-to-end, text included."""
    from html_parser_spark.ops.corpus import materialize_sequences, pack_sequences

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plan = pack_sequences(docs, seq_len=128, num_partitions=8)
    return materialize_sequences(docs, plan)


@contract(
    oracle="""
        -- expected SURT key per family, stated in closed form:
        -- reversed host labels, www stripped, port dropped, empty
        -- path -> '/', query params sorted, relative ids lowercased
        SELECT doc_id,
               CASE doc_id % 6
                 WHEN 0 THEN 'HTTP://WWW.Example.COM/A/B' || doc_id || '?b=2&a=1'
                 WHEN 1 THEN 'https://sub.test.co.uk/path' || doc_id
                 WHEN 2 THEN 'https://Example.org'
                 WHEN 3 THEN 'relative/ID/' || doc_id
                 WHEN 4 THEN 'http://h.example.net:8080/x' || doc_id
                 ELSE 'https://example.com/Q' || doc_id || '?Z=9'
               END AS raw_url,
               CASE doc_id % 6
                 WHEN 0 THEN 'com,example)/a/b' || doc_id || '?a=1&b=2'
                 WHEN 1 THEN 'uk,co,test,sub)/path' || doc_id
                 WHEN 2 THEN 'org,example)/'
                 WHEN 3 THEN 'relative/id/' || doc_id
                 WHEN 4 THEN 'net,example,h)/x' || doc_id
                 ELSE 'com,example)/q' || doc_id || '?z=9'
               END AS surt
        FROM documents
    """,
    plan="CDX sort-key derivation is pure codegen, zero shuffle/Python",
    must=["*(1)"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_surt_key(spark, sf_dir):
    """SURT capture-index keys (ops/web.surt_key — the sort key CDX
    indexes range-scan by): six url families built in closed form from
    doc_id (www + unsorted query, deep ccTLD subdomain, empty path,
    relative id, explicit port, uppercase path/query), so the oracle
    states every expected key directly."""
    from html_parser_spark.ops.web import surt_key

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id").cast("string")
    m6 = F.pmod("doc_id", F.lit(6))
    raw = (
        F.when(m6 == 0, F.concat(F.lit("HTTP://WWW.Example.COM/A/B"), d, F.lit("?b=2&a=1")))
        .when(m6 == 1, F.concat(F.lit("https://sub.test.co.uk/path"), d))
        .when(m6 == 2, F.lit("https://Example.org"))
        .when(m6 == 3, F.concat(F.lit("relative/ID/"), d))
        .when(m6 == 4, F.concat(F.lit("http://h.example.net:8080/x"), d))
        .otherwise(F.concat(F.lit("https://example.com/Q"), d, F.lit("?Z=9")))
    )
    return docs.select(
        "doc_id", raw.alias("raw_url"), surt_key(raw).alias("surt")
    )


@contract(
    oracle="""
        -- per-host page counts x closed-form delays: hosts 0-4 carry
        -- wildcard Crawl-delay 2..6, host 5's mybot group (7) beats
        -- its '*' group (3), hosts 6-9 default to 1
        WITH d AS (SELECT doc_id % 10 AS h FROM documents),
        c AS (SELECT h, count(*) AS n FROM d GROUP BY h)
        SELECT 'h' || h || '.example.org' AS host,
               CAST(n AS BIGINT) AS n_pages,
               CAST(CASE WHEN h < 5 THEN 2 + h WHEN h = 5 THEN 7
                         ELSE 1 END AS INTEGER) AS crawl_delay_sec,
               CAST(n * (CASE WHEN h < 5 THEN 2 + h WHEN h = 5 THEN 7
                              ELSE 1 END) AS BIGINT) AS est_fetch_sec
        FROM c
    """,
    plan="ONE partial-agg groupBy over pages, tiny delay dim broadcast",
    must=["HashAggregate", "BroadcastHashJoin"],
    must_not=["CartesianProduct", "SortMergeJoin"],
)
def q_crawl_plan(spark, sf_dir):
    """Politeness cost model (ops/robots.crawl_delays + fetch_plan):
    per-host page counts × the host's Crawl-delay (agent-specific group
    preferred, '*' fallback per RFC 9309, absent host → default 1 s) →
    estimated serial fetch seconds.  Hosts 0-4 declare wildcard delays
    2..6, host 5 declares 7 for THIS agent (beating its '*' group's 3),
    hosts 6-9 have no robots row; integer arithmetic end-to-end."""
    from html_parser_spark.ops.robots import crawl_delays, fetch_plan

    docs = _docs(spark, sf_dir)
    h = F.col("doc_id") % 10
    pages = docs.select(
        F.concat(F.lit("https://h"), h.cast("string"),
                 F.lit(".example.org/p/"), F.col("doc_id").cast("string"))
        .alias("url")
    )
    robots_rows = [
        (f"h{i}.example.org", f"User-agent: *\nCrawl-delay: {2 + i}")
        for i in range(5)
    ] + [
        (
            "h5.example.org",
            "User-agent: mybot\nCrawl-delay: 7\n\nUser-agent: *\nCrawl-delay: 3",
        )
    ]
    robots = spark.createDataFrame(robots_rows, ["host", "body"])
    plan = fetch_plan(pages, crawl_delays(robots, agent="mybot"))
    return plan.select(
        "host",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("crawl_delay_sec").cast("int").alias("crawl_delay_sec"),
        F.col("est_fetch_sec").cast("long").alias("est_fetch_sec"),
    )


@contract(
    oracle="""
        -- closed-form expected blocks: block 0 is the valid object
        -- with the cycling @type, block 1 (odd docs) is the malformed
        -- '{broken' whose parsed fields are NULL
        SELECT doc_id, CAST(0 AS INTEGER) AS block_idx,
               '{"@context": "https://schema.org", "@type": "'
                 || CASE doc_id % 3 WHEN 0 THEN 'Article'
                    WHEN 1 THEN 'Product' ELSE 'Event' END
                 || '", "name": "doc ' || doc_id || '"}' AS raw_json,
               CASE doc_id % 3 WHEN 0 THEN 'Article'
                    WHEN 1 THEN 'Product' ELSE 'Event' END AS schema_type,
               'https://schema.org' AS schema_context
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(1 AS INTEGER), '{broken', NULL, NULL
        FROM documents WHERE doc_id % 2 = 1
    """,
    plan="ld+json block cut + get_json_object, zero Python/shuffle",
    must=["Generate"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_jsonld(spark, sf_dir):
    """schema.org JSON-LD extraction (ops/html_meta.jsonld_blocks): every
    doc carries one valid block (@type cycling Article/Product/Event), odd
    docs also a malformed second block whose fields must come back NULL
    while the raw text still surfaces."""
    from html_parser_spark.ops.html_meta import jsonld_blocks

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    stype = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("Article"))
        .when(F.col("doc_id") % 3 == 1, F.lit("Product"))
        .otherwise(F.lit("Event"))
    )
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'
              '{"@context": "https://schema.org", "@type": "'),
        stype,
        F.lit('", "name": "doc '), did, F.lit('"}</script></head><body>'),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.lit('<script type="application/ld+json">{broken</script>'),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(
        "doc_id", F.encode(html, "UTF-8").alias("html")
    )
    return jsonld_blocks(pages).select(
        "doc_id",
        F.col("block_idx").cast("int").alias("block_idx"),
        "raw_json", "schema_type", "schema_context",
    )


@contract(
    oracle="""
        -- closed-form EXPECTED diff: %10==0 added, %10==1 removed,
        -- %5==2 changed (body edited), everything else unchanged
        SELECT 'https://c' || (doc_id % 10) || '.com/d' || doc_id AS url,
               CASE WHEN doc_id % 10 = 0 THEN 'added'
                    WHEN doc_id % 10 = 1 THEN 'removed'
                    WHEN doc_id % 5 = 2 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               CASE WHEN doc_id % 10 = 0 THEN NULL
                    ELSE md5(text) END AS old_md5,
               CASE WHEN doc_id % 10 = 1 THEN NULL
                    WHEN doc_id % 5 = 2 THEN md5(text || ' v2')
                    ELSE md5(text) END AS new_md5
        FROM documents
    """,
    plan="md5 below the join: the exchange carries digests, not page bodies",
    must=["md5", "Join"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
)
def q_crawl_diff(spark, sf_dir):
    """Incremental-crawl diff (ops/web.crawl_diff): synthetic old/new
    snapshots with disjoint url tails (every 10th doc is new-only, every
    10th+1 old-only) and edited bodies (every 5th+2 changed).  The oracle
    states the EXPECTED per-url status + digests in closed form; md5 is
    computed below the join so the shuffle carries hashes, not bodies."""
    from html_parser_spark.ops.web import crawl_diff

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("https://c"), (F.col("doc_id") % 10).cast("string"),
                   F.lit(".com/d"), F.col("doc_id").cast("string"))
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        url.alias("url"), F.encode("text", "UTF-8").alias("html")
    )
    new = docs.filter(F.col("doc_id") % 10 != 1).select(
        url.alias("url"),
        F.encode(
            F.when(F.col("doc_id") % 5 == 2,
                   F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text")),
            "UTF-8",
        ).alias("html"),
    )
    return crawl_diff(old, new)


@contract(
    oracle="""
        -- re-derive the exploded (src_host, dst, text) anchor rows
        -- symbolically (the mailto decoy never appears) and aggregate:
        -- occurrences, distinct source hosts, sorted distinct labels
        WITH a AS (
          SELECT 'www.site' || (doc_id % 10) || '.com' AS src_host,
                 'https://t' || (doc_id % 25) || '.example/' AS dst,
                 'anchor t' || (doc_id % 25) || ' v' || (doc_id % 3) AS text
          FROM documents
          UNION ALL
          SELECT 'www.site' || (doc_id % 10) || '.com',
                 'https://t' || ((doc_id + 7) % 25) || '.example/',
                 'anchor t' || ((doc_id + 7) % 25) || ' v' || (doc_id % 3)
          FROM documents
        )
        SELECT dst,
               CAST(COUNT(*) AS BIGINT) AS n_anchors,
               CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts,
               array_to_string(list_sort(list_distinct(list(text))), '|')
                   AS anchor_texts
        FROM a GROUP BY dst
    """,
    plan="one Arrow kernel, explode, ONE partial-agg groupBy",
    must=["ArrowEvalPython", "Generate", "HashAggregate"],
    must_not=["Window", "CartesianProduct", "BroadcastNestedLoopJoin"],
)
def q_anchor_stats(spark, sf_dir):
    """Anchor-text aggregation (ops/html_meta.py): what the web SAYS about
    each target url.  Every doc links to two rotating targets with a
    versioned label plus a mailto decoy; the oracle re-derives the exploded
    (src_host, dst, text) rows symbolically and aggregates them in SQL —
    hash match proves the anchor kernel (absolutization, text collapse,
    skip schemes, duplicates kept) AND the partial-agg rollup."""
    _ship_package(spark)
    from html_parser_spark.ops.html_meta import anchor_text_stats, extract_anchors

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    t1 = (F.col("doc_id") % 25).cast("string")
    t2 = ((F.col("doc_id") + 7) % 25).cast("string")
    v = (F.col("doc_id") % 3).cast("string")
    html = F.concat(
        F.lit('<html><body>\n<a href="https://t'), t1,
        F.lit('.example/">anchor t'), t1, F.lit(" v"), v,
        F.lit('</a>\n<a href="https://t'), t2,
        F.lit('.example/">anchor t'), t2, F.lit(" v"), v,
        F.lit('</a>\n<a href="mailto:skip@x.example">skip</a>\n</body></html>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("https://www.site"), (F.col("doc_id") % 10).cast("string"),
            F.lit(".com/pages/"), did, F.lit(".html"),
        ).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    out = anchor_text_stats(extract_anchors(pages))
    # array<string> crashes the driver's pandas canonicalizer (round-4
    # `err`): join the sorted-distinct labels into one scalar string.
    return out.select(
        "dst",
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_src_hosts").cast("long").alias("n_src_hosts"),
        F.array_join("anchor_texts", "|").alias("anchor_texts"),
    )


@contract(
    oracle="""
        -- closed-form EXPECTED verdicts (checks the robots parser +
        -- precedence engine): low hosts block only the bare /private
        -- kind (the /private/ok kind is rescued by the longer allow),
        -- high hosts block only /public, the root path matches nothing,
        -- and the badbot group must not leak into agent '*'
        SELECT doc_id,
               'https://h' || (doc_id % 20) || '.example' ||
               CASE doc_id % 4
                 WHEN 0 THEN '/public/p' || doc_id
                 WHEN 1 THEN '/private/p' || doc_id
                 WHEN 2 THEN '/private/ok/p' || doc_id
                 ELSE '/'
               END AS url,
               CAST(CASE
                 WHEN doc_id % 20 < 10
                      THEN CASE WHEN doc_id % 4 = 1 THEN 0 ELSE 1 END
                 ELSE CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END
               END AS INTEGER) AS allowed
        FROM documents
    """,
    plan=(
        "verdict is host equi-join + partial-agg max; the only Window is the per-host "
        "rule parse, never over pages"
    ),
    must=["HashAggregate", "Join"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "ArrowEvalPython",
              "BatchEvalPython"],
)
def q_robots(spark, sf_dir):
    """robots.txt politeness (ops/robots.py): 20 synthetic hosts, two policy
    families (low hosts disallow /private with a longer /private/ok allow;
    high hosts disallow /public), a decoy badbot group in every file, and
    four path kinds per doc including the no-match root.  The oracle states
    the EXPECTED verdict in closed form — a hash match checks the line
    parser, window group-association, longest-prefix precedence, and the
    allow tie-break all at once."""
    from html_parser_spark.ops.robots import parse_robots, robots_verdict

    docs = _docs(spark, sf_dir)
    hostn = F.col("doc_id") % 20
    host = F.concat(F.lit("h"), hostn.cast("string"), F.lit(".example"))
    robots = (
        docs.select(hostn.alias("hn")).distinct().select(
            F.concat(F.lit("h"), F.col("hn").cast("string"),
                     F.lit(".example")).alias("host"),
            F.concat(
                F.lit("# synthetic policy\nUser-agent: *\n"),
                F.when(
                    F.col("hn") < 10,
                    F.lit("Disallow: /private\nAllow: /private/ok\n"),
                ).otherwise(F.lit("Disallow: /public\n")),
                F.lit("\nUser-agent: badbot\nDisallow: /\n"),
            ).alias("body"),
        )
    )
    kind = F.col("doc_id") % 4
    path = (
        F.when(kind == 0, F.concat(F.lit("/public/p"), F.col("doc_id").cast("string")))
        .when(kind == 1, F.concat(F.lit("/private/p"), F.col("doc_id").cast("string")))
        .when(kind == 2, F.concat(F.lit("/private/ok/p"), F.col("doc_id").cast("string")))
        .otherwise(F.lit("/"))
    )
    pages = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )
    out = robots_verdict(pages, parse_robots(robots))
    return out.select("doc_id", "url", F.col("allowed").cast("int").alias("allowed"))


@contract(
    oracle="""
        -- same synthetic edges as q_pagerank; degrees/weights are
        -- integer aggregates, reciprocity is a self-join on the
        -- reversed pair — replicated verbatim
        WITH e0 AS (
          SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t
          FROM documents
          UNION ALL
          SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
        ), edges AS (
          SELECT 'h' || s AS src, 'h' || t AS dst,
                 CAST(COUNT(*) AS BIGINT) AS weight
          FROM e0 WHERE s <> t GROUP BY 1, 2
        ), o AS (
          SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree,
                 CAST(SUM(weight) AS BIGINT) AS out_weight
          FROM edges GROUP BY src
        ), i AS (
          SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree,
                 CAST(SUM(weight) AS BIGINT) AS in_weight
          FROM edges GROUP BY dst
        ), r AS (
          SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS reciprocal_edges
          FROM edges e JOIN edges x ON x.src = e.dst AND x.dst = e.src
          GROUP BY e.src
        )
        SELECT COALESCE(o.node, i.node) AS node,
               COALESCE(out_degree, 0) AS out_degree,
               COALESCE(in_degree, 0) AS in_degree,
               COALESCE(out_weight, 0) AS out_weight,
               COALESCE(in_weight, 0) AS in_weight,
               COALESCE(reciprocal_edges, 0) AS reciprocal_edges
        FROM o FULL OUTER JOIN i ON o.node = i.node
        LEFT JOIN r ON r.node = COALESCE(o.node, i.node)
    """,
    plan="partial-agg degree rollups + reversed-pair equi-join",
    must=["HashAggregate", "Join"],
    must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
)
def q_graph_stats(spark, sf_dir):
    """Link-farm signals (ops/linkgraph.host_graph_stats) over the
    q_pagerank synthetic graph: degrees, weights, and reciprocity per
    host — all integer aggregates, replicated exactly in the oracle."""
    from html_parser_spark.ops.linkgraph import host_graph_stats

    docs = _docs(spark, sf_dir)
    edges = _synth_host_edges(docs)
    return host_graph_stats(edges)


@contract(
    oracle=f"""
        SELECT node, rank,
               CAST((1000000 * rank) // (SELECT SUM(rank) FROM (
        {_pagerank_oracle_sql(3)}
        ) t) AS BIGINT) AS quota
        FROM (
        {_pagerank_oracle_sql(3)}
        ) pr
    """,
)
def q_crawl_budget(spark, sf_dir, checkpoint=True):
    """Frontier prioritization (ops/linkgraph.crawl_budget): a 1M-page
    crawl budget split proportionally to the fixed-point PageRank of the
    q_pagerank graph — quota = (B * rank) div Σrank, integer-exact, so the
    oracle (the unrolled PageRank CTE plus one budget projection)
    hash-matches exactly."""
    from html_parser_spark.ops.linkgraph import crawl_budget

    ranks = q_pagerank(spark, sf_dir, checkpoint=checkpoint)
    return crawl_budget(ranks, 1_000_000).select(
        "node", "rank", F.col("quota").cast("long").alias("quota")
    )


@contract(
    oracle="""
        -- replicate every Gopher rule in the same integer arithmetic:
        -- occurrence counts via length-difference, line/word filters via
        -- list_filter + regexp, stop-word hits as 8 list_contains CASEs
        WITH g AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 string_split(text, chr(10)) AS lines,
                 CAST(length(regexp_replace(text, '\\s+', '', 'g'))
                      AS BIGINT) AS word_chars,
                 CAST(length(text) - length(replace(text, '#', ''))
                      AS BIGINT)
                 + CAST(length(text) - length(replace(text, '…', ''))
                      AS BIGINT)
                 + CAST((length(text) - length(replace(text, '...', '')))
                        // 3 AS BIGINT) AS symbols
          FROM documents
        ), m AS (
          SELECT doc_id, word_chars, symbols,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(len(lines) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(lines,
                      x -> regexp_matches(ltrim(x), '^[•*-]')))
                      AS BIGINT) AS bullet_lines,
                 CAST(len(list_filter(lines,
                      x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))
                      AS BIGINT) AS ellipsis_lines,
                 CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[A-Za-z]')))
                      AS BIGINT) AS alpha_words,
                 (CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'the') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'be') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'to') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'of') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'and') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'that') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'have') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(list_transform(toks,
                       x -> lower(x)), 'with') THEN 1 ELSE 0 END
                 ) AS stop_hits
          FROM g
        )
        SELECT doc_id, n_words, word_chars, n_lines,
               CAST(CASE WHEN n_words >= 30 AND n_words <= 100000
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_word_count,
               CAST(CASE WHEN word_chars >= 3 * n_words
                         AND word_chars <= 10 * n_words
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_mean_len,
               CAST(CASE WHEN 10 * symbols <= n_words
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_symbol_ratio,
               CAST(CASE WHEN 10 * bullet_lines <= 9 * n_lines
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_bullets,
               CAST(CASE WHEN 10 * ellipsis_lines <= 3 * n_lines
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_ellipsis_lines,
               CAST(CASE WHEN 5 * alpha_words >= 4 * n_words
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_alpha,
               CAST(CASE WHEN stop_hits >= 2
                    THEN 1 ELSE 0 END AS INTEGER) AS keep_stopwords,
               CAST(CASE WHEN n_words >= 30 AND n_words <= 100000
                         AND word_chars >= 3 * n_words
                         AND word_chars <= 10 * n_words
                         AND 10 * symbols <= n_words
                         AND 10 * bullet_lines <= 9 * n_lines
                         AND 10 * ellipsis_lines <= 3 * n_lines
                         AND 5 * alpha_words >= 4 * n_words
                         AND stop_hits >= 2
                    THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM m
    """,
    plan="full rule battery is pure JVM codegen, zero shuffle",
    must=["Project"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_gopher(spark, sf_dir):
    """Gopher quality-rule battery (ops/gopher.py) over documents: all seven
    published rules with INTEGER-arithmetic thresholds (10*symbols <=
    n_words, never a float ratio), so the flags are bit-exact across
    engines.  Flags ship as INT 0/1 — pandas renders numpy booleans as
    'True', which would break the driver's hash canon."""
    from html_parser_spark.ops.gopher import gopher_rules

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = gopher_rules(docs, min_words=30)
    flag_cols = [c for c in out.columns if c.startswith("keep")]
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("word_chars").cast("long").alias("word_chars"),
        F.col("n_lines").cast("long").alias("n_lines"),
        *[F.col(c).cast("int").alias(c) for c in flag_cols],
    )


@contract(
    oracle="""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ), c AS (
          SELECT doc_id, w,
                 unnest(generate_series(
                   0, CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS chunk_idx
          FROM t
        ), s AS (
          SELECT doc_id, chunk_idx,
                 array_to_string(
                   list_slice(w, chunk_idx * 10 + 1, chunk_idx * 10 + 10), ' ')
                   AS chunk_text
          FROM c
        ), k AS (
          SELECT doc_id, chunk_idx, chunk_text,
                 row_number() OVER (PARTITION BY chunk_text
                                    ORDER BY doc_id, chunk_idx) = 1 AS kept
          FROM s
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_spans_kept,
               CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_spans_dropped,
               coalesce(string_agg(CASE WHEN kept THEN chunk_text END,
                                   ' ' ORDER BY chunk_idx), '') AS clean_text
        FROM k GROUP BY doc_id
    """,
    plan="groupBy-min + hash join on span hashes, no window over spans",
    must=["HashAggregate", "Join"],
    must_not=["Window", "CartesianProduct", "BroadcastNestedLoopJoin"],
)
def q_span_dedup(spark, sf_dir):
    """C4-style span-level dedup: every repeated 10-token span keeps only
    its first (doc_id, idx) occurrence; docs are reassembled from surviving
    spans.  Returning the full clean_text makes the hash a byte-exact check
    of the reassembly, not just the counts."""
    from html_parser_spark.ops.corpus import span_dedup

    return span_dedup(_docs(spark, sf_dir), span_tokens=10)


@contract(
    oracle="""
        WITH docs AS (
          SELECT doc_id, source AS host,
                 replace(text, ' ', chr(10)) AS text
          FROM documents
        ), lines AS (
          SELECT doc_id, host, md5(trim(line)) AS h
          FROM (SELECT doc_id, host,
                       unnest(string_split(text, chr(10))) AS line
                FROM docs) q
          WHERE trim(line) <> ''
        ), hp AS (
          SELECT host, count(*) AS host_pages FROM docs GROUP BY host
        ), lp AS (
          SELECT host, h, count(DISTINCT doc_id) AS line_pages
          FROM lines GROUP BY host, h
        ), boiler AS (
          SELECT lp.host, list(lp.h) AS hs
          FROM lp JOIN hp USING (host)
          WHERE lp.line_pages >= 2
            AND lp.line_pages * 100 >= hp.host_pages * 60
          GROUP BY lp.host
        )
        SELECT d.doc_id,
               CAST(len(string_split(d.text, chr(10))) AS BIGINT)
                 AS n_lines,
               CAST(len(list_filter(string_split(d.text, chr(10)),
                    x -> trim(x) <> '' AND
                         list_contains(coalesce(b.hs, []), md5(trim(x)))))
                    AS BIGINT) AS n_lines_removed,
               -- duckdb's array_to_string of an EMPTY list is NULL;
               -- Spark's concat_ws is '' — coalesce to the Spark shape
               coalesce(array_to_string(
                 list_filter(string_split(d.text, chr(10)),
                   x -> trim(x) = '' OR
                        NOT list_contains(coalesce(b.hs, []),
                                          md5(trim(x)))),
                 chr(10)), '') AS clean_text
        FROM docs d LEFT JOIN boiler b USING (host)
    """,
    plan=(
        "partial-agg line counts + equi-joins, no window over line text, no forced "
        "broadcast of the per-host dim"
    ),
    must=["HashAggregate", "Join"],
    must_not=["Window", "CartesianProduct", "BroadcastNestedLoopJoin"],
)
def q_host_line_dedup(spark, sf_dir):
    """CCNet-style per-host repeated-line removal: a line recurring on >=2
    pages and >=60% of a host's pages is site furniture and is stripped
    from EVERY page.  The sf corpus is single-line, so lines are
    synthesized word-per-line (space -> newline) — the same pure transform
    on both engines — which exercises the ordered reassembly hard (every
    word is a line) while keeping the oracle a closed-form SQL twin.
    Returning clean_text makes the hash byte-exact on the reassembly."""
    from html_parser_spark.ops.corpus import host_line_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.translate("text", " ", "\n").alias("text")
    )
    return host_line_dedup(docs, min_pages=2, pct_pages=60)


@contract(
    oracle="""
        -- EXPECTED flags in closed form (the robots meta is a pure
        -- function of doc_id%5) — checks the DOM kernel's extraction
        -- + the JVM REP-token interpretation, not a second parser
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN 'noindex, follow'
                 WHEN 1 THEN 'none'
                 WHEN 2 THEN 'index, nofollow'
                 WHEN 3 THEN NULL
                 ELSE 'max-snippet:-1, noindex' END AS robots,
               CASE WHEN doc_id % 5 IN (0, 1, 4) THEN 1 ELSE 0 END
                 AS noindex,
               CASE WHEN doc_id % 5 IN (1, 2) THEN 1 ELSE 0 END
                 AS nofollow
        FROM documents
    """,
    plan="ONE Arrow meta kernel + JVM REP-token flags, no shuffle at all",
    must=["ArrowEvalPython"],
    must_not=["Exchange", "Window", "CartesianProduct"],
)
def q_noindex_gate(spark, sf_dir):
    """Page-level REP gate: <meta name=robots> through the DOM kernel
    (lowercased raw directive) + JVM token interpretation — 'none' implies
    noindex AND nofollow, unknown tokens (max-snippet:-1) are ignored,
    absent tag means indexable.  Five closed-form cases by doc_id%5; the
    oracle states the expected flags without parsing HTML."""
    _ship_package(spark)
    from html_parser_spark.ops.html_meta import extract_page_meta, noindex_flags

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    robots_meta = (
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<meta name="robots" content="noindex, follow">'))
        .when(F.col("doc_id") % 5 == 1,
              F.lit('<meta name="ROBOTS" content="NONE">'))
        .when(F.col("doc_id") % 5 == 2,
              F.lit('<meta name="robots" content="index, nofollow">'))
        .when(F.col("doc_id") % 5 == 3, F.lit(""))
        .otherwise(
            F.lit('<meta name="robots" content="max-snippet:-1, noindex">')
        )
    )
    html = F.concat(
        F.lit("<html><head><title>t"), did, F.lit("</title>"), robots_meta,
        F.lit("</head><body><p>body</p></body></html>"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://n.example.com/"), did).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return noindex_flags(extract_page_meta(pages)).select(
        "doc_id", "robots", "noindex", "nofollow"
    )


@contract(
    oracle="""
        WITH b AS (
          SELECT 'https://r' || (doc_id % 10) || '.com/p' || doc_id
                   AS url,
                 1704067200 + doc_id + 3 * 604800 AS last_ts,
                 CASE WHEN doc_id % 3 = 0 THEN 3
                      WHEN doc_id % 3 = 1 THEN 0
                      ELSE 1 END AS ch
          FROM documents
        ), e AS (
          SELECT url, last_ts, ch,
                 least(greatest(1814400 // greatest(ch, 1), 86400),
                       2592000) AS est
          FROM b
        )
        SELECT url,
               CAST(4 AS BIGINT) AS n_captures,
               CAST(ch AS BIGINT) AS n_changes,
               CAST(last_ts AS BIGINT) AS last_ts,
               CAST(est AS BIGINT) AS est_change_sec,
               CAST(last_ts + est AS BIGINT) AS next_due_ts,
               CAST(1709251200 - (last_ts + est) AS BIGINT)
                 AS overdue_sec
        FROM e
    """,
    plan=(
        "digests below the exchange, ONE partial-agg groupBy(url), zip_with change "
        "counting instead of a window (the synth's 4-row capture crossJoin is fixture "
        "construction, not the op)"
    ),
    must=["md5", "HashAggregate"],
    must_not=["Window"],
)
def q_recrawl_priority(spark, sf_dir):
    """Change-rate recrawl scheduling over a synthesized 4-capture weekly
    history per url: doc_id%3 picks the body-churn pattern (every capture /
    never / every other), so n_changes, the integer-exact inter-change
    estimate, clamping, and the due computation are all closed-form for
    the oracle.  All-BIGINT outputs — bit-exact across engines."""
    from html_parser_spark.ops.web import recrawl_priority

    docs = _docs(spark, sf_dir)
    week = 604800
    caps = docs.crossJoin(
        spark.range(4).withColumnRenamed("id", "capture")
    ).select(
        F.concat(
            F.lit("https://r"), (F.col("doc_id") % 10).cast("string"),
            F.lit(".com/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") + F.col("capture") * week
        ).alias("warc_ts"),
        F.concat(
            "text",
            F.lit(" v"),
            F.when(F.col("doc_id") % 3 == 0, F.col("capture"))
            .when(F.col("doc_id") % 3 == 1, F.lit(0).cast("long"))
            .otherwise(F.expr("capture div 2"))
            .cast("string"),
        ).alias("body"),
    )
    return recrawl_priority(caps, asof_ts=1709251200)


def _synth_urls(spark, sf_dir):
    """Deterministic varied urls over documents: scheme/host/tld/path/query
    all pure functions of (doc_id, source, lang) so the DuckDB oracle can
    state the EXPECTED parse output without a URL parser."""
    docs = _docs(spark, sf_dir)
    tld = F.element_at(
        F.array(F.lit("org"), F.lit("net"), F.lit("com")),
        (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
    )
    host = F.concat(
        F.lit("w"),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit("."),
        F.col("source"),
        F.lit(".example."),
        tld,
    )
    url = F.concat(
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("https")).otherwise(
            F.lit("http")
        ),
        F.lit("://"),
        host,
        F.lit("/a/"),
        F.pmod("doc_id", F.lit(5)).cast("string"),
        F.lit("/p"),
        F.col("doc_id").cast("string"),
        F.when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.concat(
                F.lit("?q="), F.col("doc_id").cast("string"), F.lit("&lang="), "lang"
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", "lang", url.alias("url"), F.encode("text", "UTF-8").alias("html")
    )


@contract(
    oracle="""
        -- EXPECTED parse output in closed form (urls are pure functions
        -- of doc_id/source/lang) — checks Spark's parse_url, not a
        -- second parser
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END AS scheme,
               'w' || (doc_id % 7) || '.' || source || '.example.' ||
                 (['org','net','com'])[(doc_id % 3) + 1] AS host,
               '/a/' || (doc_id % 5) || '/p' || doc_id AS path,
               CASE WHEN doc_id % 4 = 0
                    THEN 'q=' || doc_id || '&lang=' || lang END AS "query",
               'example.' || (['org','net','com'])[(doc_id % 3) + 1]
                 AS registered_domain
        FROM documents
    """,
)
def q_url_parts(spark, sf_dir):
    """URL decomposition (web-curation op): Spark's JVM ``parse_url`` per
    part vs the oracle's closed-form expected values — a real check of the
    parser, not a reimplementation on both sides."""
    from html_parser_spark.ops.web import url_parts

    parts = url_parts(_synth_urls(spark, sf_dir))
    return parts.select(
        "doc_id", "scheme", "host", "path", "query", "registered_domain"
    )


@contract(
    oracle="""
        WITH u AS (
          SELECT 'w' || (doc_id % 7) || '.' || source || '.example.' ||
                   (['org','net','com'])[(doc_id % 3) + 1] AS host,
                 octet_length(encode(text)) AS nb
          FROM documents
        )
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nb) AS BIGINT) AS total_bytes,
               round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE),
                     4) AS doc_share
        FROM u GROUP BY host
    """,
)
def q_domain_stats(spark, sf_dir):
    """Per-host crawl accounting (the domain-skew audit): one shuffle with
    map-side partials; corpus share from a window over the tiny aggregate."""
    from html_parser_spark.ops.web import domain_stats, url_parts

    parts = url_parts(_synth_urls(spark, sf_dir))
    return domain_stats(parts, bytes_col="html")


@contract(
    oracle="""
        WITH u AS (
          SELECT lang,
                 'w' || (doc_id % 7) || '.' || source || '.example.' ||
                   (['org','net','com'])[(doc_id % 3) + 1] AS host
          FROM documents
        ),
        top2 AS (
          SELECT host FROM u GROUP BY host
          ORDER BY count(*) DESC, host ASC LIMIT 2
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept
        FROM u WHERE host NOT IN (SELECT host FROM top2)
        GROUP BY lang
    """,
    plan="blocklist dropped via broadcast LEFT ANTI join",
    must=["LeftAnti", "BroadcastHashJoin"],
    must_not=["CartesianProduct"],
)
def q_blocklist(spark, sf_dir):
    """Broadcast LEFT ANTI blocklist filter: drop the two dominant hosts
    (deterministic tie-break), report per-lang survivor counts."""
    from html_parser_spark.ops.web import (
        domain_stats,
        host_blocklist_filter,
        url_parts,
    )

    parts = url_parts(_synth_urls(spark, sf_dir))
    top2 = (
        domain_stats(parts)
        .orderBy(F.desc("n_docs"), F.asc("host"))
        .limit(2)
        .select("host")
    )
    kept = host_blocklist_filter(parts, top2)
    return kept.groupBy("lang").agg(F.count("*").alias("n_docs_kept"))


@contract(
    oracle="""
        -- expected registered domain per suffix branch, in closed form
        -- (k=6 private-section github.io keeps the user label; k=7 is
        -- a bare public suffix with no registrable part)
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 7 THEN 'co.uk'
                    ELSE 'h' || doc_id ||
                      (['.blogs.example.com', '.example.co.uk',
                        '.shop.example.com.au', '.example.unknowntld',
                        '.www.example.com.br', '.portal.example.gob.mx',
                        '.github.io'])[(doc_id % 8) + 1]
               END AS host,
               CASE doc_id % 8
                 WHEN 0 THEN 'example.com'
                 WHEN 1 THEN 'example.co.uk'
                 WHEN 2 THEN 'example.com.au'
                 WHEN 3 THEN 'example.unknowntld'
                 WHEN 4 THEN 'example.com.br'
                 WHEN 5 THEN 'example.gob.mx'
                 WHEN 6 THEN 'h' || doc_id || '.github.io'
                 ELSE 'co.uk'
               END AS registered_domain
        FROM documents
    """,
)
def q_psl_domain(spark, sf_dir):
    """Registered domain via longest public-suffix match against the
    bundled ~1.9k-entry PSL snapshot (codegen literal array probe, zero
    shuffle/join): multi-label suffixes (co.uk, com.au, com.br, gob.mx)
    must beat the last-2-labels heuristic; unknown TLDs fall back to it;
    a bare-suffix host passes through; a private-section suffix
    (github.io) registers the user site."""
    from html_parser_spark.ops.web import registered_domain_psl

    docs = _docs(spark, sf_dir)
    k = F.pmod("doc_id", F.lit(8))
    suffix = F.element_at(
        F.array(
            F.lit(".blogs.example.com"),
            F.lit(".example.co.uk"),
            F.lit(".shop.example.com.au"),
            F.lit(".example.unknowntld"),
            F.lit(".www.example.com.br"),
            F.lit(".portal.example.gob.mx"),
            F.lit(".github.io"),
        ),
        F.least(k, F.lit(6)).cast("int") + 1,
    )
    host = F.when(k == 7, F.lit("co.uk")).otherwise(
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), suffix)
    )
    return docs.select(
        "doc_id",
        host.alias("host"),
        registered_domain_psl(host).alias("registered_domain"),
    )


@contract(
    oracle="""
        -- expected canonical form in closed form from doc_id
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
               || '://W' || (doc_id % 7) || '.' || upper(source)
               || '.Example.' || (['org','net','com'])[(doc_id % 3) + 1]
               || (CASE WHEN doc_id % 4 = 0
                        THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
                        WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0 THEN '' ELSE '/a/p' || doc_id END)
               || (CASE WHEN doc_id % 3 = 0 THEN '?q=' || doc_id ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0 THEN '#s' ELSE '' END) AS raw_url,
               (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
               || '://w' || (doc_id % 7) || '.' || lower(source)
               || '.example.' || (['org','net','com'])[(doc_id % 3) + 1]
               || (CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '/a/p' || doc_id END)
               || (CASE WHEN doc_id % 3 = 0 THEN '?q=' || doc_id ELSE '' END)
                 AS canonical_url
        FROM documents
    """,
)
def q_url_canon(spark, sf_dir):
    """URL canonicalization for crawl-level url dedup: messy urls (mixed
    case, default ports, fragments, empty paths) are built in closed form
    from doc_id, so the oracle states the expected canonical form directly
    — a real check of the normalizer."""
    from html_parser_spark.ops.web import canonicalize_url

    docs = _docs(spark, sf_dir)
    tld = F.element_at(
        F.array(F.lit("org"), F.lit("net"), F.lit("com")),
        (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
    )
    even = F.pmod("doc_id", F.lit(2)) == 0
    m4 = F.pmod("doc_id", F.lit(4))
    messy = F.concat(
        F.when(even, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://W"),
        F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit("."),
        F.upper("source"),
        F.lit(".Example."),
        tld,
        F.when(m4 == 0, F.when(even, F.lit(":443")).otherwise(F.lit(":80")))
        .when(m4 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(F.pmod("doc_id", F.lit(6)) == 0, F.lit("")).otherwise(
            F.concat(F.lit("/a/p"), F.col("doc_id").cast("string"))
        ),
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.lit("?q="), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.pmod("doc_id", F.lit(5)) == 0, F.lit("#s")).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        messy.alias("raw_url"),
        canonicalize_url(messy).alias("canonical_url"),
    )


@contract(
    oracle="""
        -- newest of the 3 synthesized captures is capture 2 (+2 days)
        SELECT 'https://example.org/doc/' || doc_id AS url,
               strftime(TIMESTAMP '2024-01-01 00:00:00'
                        + to_seconds(doc_id + 172800),
                        '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               md5(text || ' v2') AS body_md5
        FROM documents
    """,
    plan="struct-max with map-side partial agg, no capture window",
    must=["partial_max"],
    must_not=["Window"],
)
def q_latest_capture(spark, sf_dir):
    """Crawl-capture dedup: 3 captures per url a day apart; keep the newest
    (groupBy-max over a struct — partial-agg, no window sort)."""
    from html_parser_spark.ops.web import latest_capture

    docs = _docs(spark, sf_dir)
    captures = docs.crossJoin(
        spark.range(3).withColumnRenamed("id", "capture")
    ).select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") + F.col("capture") * 86400
        ).alias("warc_ts"),
        F.concat("text", F.lit(" v"), F.col("capture").cast("string")).alias("body"),
    )
    latest = latest_capture(captures)
    return latest.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.md5(F.encode("body", "UTF-8")).alias("body_md5"),
    )


@contract(
    oracle="""
        -- replay the election as a window rank: self-canonical first,
        -- then newest, then url/body ascending (total order)
        WITH c AS (
          SELECT 'https://ex.org/g' || (doc_id // 4) || '/v' || (doc_id % 4)
                   AS url,
                 CASE WHEN doc_id % 4 = 3 THEN NULL
                      WHEN (doc_id // 4) % 2 = 0
                        THEN 'https://ex.org/g' || (doc_id // 4) || '/v0'
                      ELSE 'https://ex.org/g' || (doc_id // 4) || '/vX'
                 END AS canonical,
                 TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * 3600)
                   AS warc_ts,
                 md5(text) AS body
          FROM documents
        ), g AS (
          SELECT coalesce(canonical, url) AS canonical_url, url, warc_ts,
                 body,
                 count(*) OVER (PARTITION BY coalesce(canonical, url))
                   AS n_captures,
                 row_number() OVER (
                   PARTITION BY coalesce(canonical, url)
                   ORDER BY CASE WHEN url = coalesce(canonical, url)
                                 THEN 0 ELSE 1 END,
                            warc_ts DESC, url, body
                 ) AS rn
          FROM c
        )
        SELECT canonical_url, CAST(n_captures AS BIGINT) AS n_captures,
               url, strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               body
        FROM g WHERE rn = 1
    """,
    plan=(
        "rel=canonical election: ONE struct-min groupBy with partial aggregation "
        "(SortAggregate — struct min is not hashable; no window over captures, no "
        "Python stage)"
    ),
    must=["Aggregate"],
    must_not=["Window", "CartesianProduct", "ArrowEvalPython", "BatchEvalPython",
              "Join"],
)
def q_canonical_dedup(spark, sf_dir):
    """rel=canonical capture election (ops/web.canonical_dedup): 4
    captures per group — three variants declaring a canonical plus a
    canonical-less singleton.  Even groups declare the crawled v0 (a
    SELF-canonical exists and must win over newer variants); odd groups
    declare a never-crawled /vX (no self-canonical -> newest capture
    wins).  The oracle replays the election as a window rank over the
    same closed-form captures."""
    from html_parser_spark.ops.web import canonical_dedup

    docs = _docs(spark, sf_dir)
    gs = F.expr("doc_id div 4").cast("string")
    v = F.pmod("doc_id", F.lit(4))
    url = F.concat(F.lit("https://ex.org/g"), gs, F.lit("/v"), v.cast("string"))
    canonical = (
        F.when(v == 3, F.lit(None).cast("string"))
        .when(
            F.expr("(doc_id div 4) % 2 = 0"),
            F.concat(F.lit("https://ex.org/g"), gs, F.lit("/v0")),
        )
        .otherwise(F.concat(F.lit("https://ex.org/g"), gs, F.lit("/vX")))
    )
    captures = docs.select(
        url.alias("url"),
        canonical.alias("canonical"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 3600).alias(
            "warc_ts"
        ),
        F.md5(F.encode("text", "UTF-8")).alias("body"),
    )
    out = canonical_dedup(captures)
    return out.select(
        "canonical_url",
        "n_captures",
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "body",
    )


@contract(
    oracle="""
        -- identical deterministic ranking: md5('cap1' || doc_id)
        -- within each synthesized host, keep rank <= 20
        WITH c AS (
          SELECT doc_id, 'h' || (doc_id % 7) AS host FROM documents
        ), r AS (
          SELECT doc_id, host,
                 row_number() OVER (
                   PARTITION BY host
                   ORDER BY md5('cap1' || doc_id), doc_id
                 ) AS host_rank
          FROM c
        )
        SELECT doc_id, host, CAST(host_rank AS BIGINT) AS host_rank
        FROM r WHERE host_rank <= 20
    """,
    plan=(
        "diversification cap: rank<=N rewritten to WindowGroupLimit (map-side top-N "
        "per host before the shuffle; no Python stage)"
    ),
    must=["WindowGroupLimit"],
    must_not=["CartesianProduct", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_domain_cap(spark, sf_dir):
    """Domain diversification cap (ops/web.domain_cap): at most 20 docs
    per synthesized host (7 hosts over documents), selected by a
    deterministic salted-md5 ranking — id-stable, engine-independent.
    The rank<=N filter sits directly on the row_number window so Spark
    rewrites it to WindowGroupLimit (map-side top-N per host before the
    shuffle; plan-audited).  The oracle runs the identical ranking in
    DuckDB — exact id agreement, not just counts."""
    from html_parser_spark.ops.web import domain_cap

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("h"), F.pmod("doc_id", F.lit(7)).cast("string")).alias(
            "host"
        ),
    )
    return domain_cap(docs, 20, salt="cap1").select(
        "doc_id", "host", F.col("host_rank").cast("long").alias("host_rank")
    )


@contract(
    oracle="""
        -- recompute the per-url accounting straight from documents;
        -- matching md5 per url == the WARC writer->reader round-trip
        -- preserved every body byte
        SELECT 'https://d' || (doc_id % 20) || '.example.org/doc/' || doc_id
                 AS url,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                        '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS body_md5,
               CAST(200 AS INTEGER) AS http_status,
               'text/html; charset=utf-8' AS content_type
        FROM documents
    """,
    plan="WARC ingest is a shuffle-free scan → single mapInArrow",
    must=["MapInArrow"],
    must_not=["Exchange", "Window"],  # the READ side must not shuffle
)
def q_warc_roundtrip(spark, sf_dir):
    """WARC source+sink (Common-Crawl container format): synthesize a crawl
    from the documents table, write it as per-record-gzip ``.warc.gz`` part
    files, read it back through the binaryFile→mapInArrow parser, and emit
    per-url byte accounting.  The DuckDB oracle computes the same columns
    straight from ``documents`` — a hash match proves the writer→reader
    round-trip is byte-exact (md5 over the body bytes) for every record."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        F.concat(
            F.lit("https://d"),
            F.pmod("doc_id", F.lit(20)).cast("string"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        # fixed epoch (2024-01-01T00:00:00Z) + doc_id seconds — no now()
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warc_rt_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_warc_files(pages.repartition(8), out, compress=True)
    w = read_warc(spark, os.path.join(out, "*.warc.gz"))
    return w.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("body_md5"),
        F.col("http_status").cast("int").alias("http_status"),
        "content_type",
    )


@contract(
    oracle="""
        -- re-derive every record's seekable extent in closed form: the
        -- serialized record is a pure function of (url, html bytes), so
        -- its length is byte arithmetic (uuid=36, date=20 are fixed
        -- width) and its offset is the running sum in doc_id file order
        WITH p AS (
          SELECT doc_id,
                 'https://d' || (doc_id % 20) || '.example.org/doc/'
                   || doc_id AS url,
                 CAST(octet_length(encode(text)) AS BIGINT) AS hl
          FROM documents
        ), r AS (
          SELECT doc_id, url,
                 CAST(octet_length(encode(
                   e'HTTP/1.1 200 OK\\r\\nContent-Type: text/html; '
                   || e'charset=utf-8\\r\\nContent-Length: '
                   || CAST(hl AS VARCHAR) || e'\\r\\n\\r\\n'
                 )) AS BIGINT) + hl AS http_len
          FROM p
        ), s AS (
          SELECT doc_id, url,
                 CAST(octet_length(encode(
                   e'WARC/1.0\\r\\nWARC-Type: response\\r\\n'
                   || 'WARC-Record-ID: <urn:uuid:' || repeat('x', 36)
                   || e'>\\r\\nWARC-Date: ' || repeat('x', 20)
                   || e'\\r\\nWARC-Target-URI: ' || url
                   || e'\\r\\nContent-Type: application/http; '
                   || e'msgtype=response\\r\\nContent-Length: '
                   || CAST(http_len AS VARCHAR) || e'\\r\\n\\r\\n'
                 )) AS BIGINT) + http_len + 4 AS rec_length
          FROM r
        )
        SELECT url,
               CAST(COALESCE(SUM(rec_length) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS rec_offset,
               CAST(rec_length AS BIGINT) AS rec_length
        FROM s
    """,
)
def q_warc_index(spark, sf_dir):
    """CDX-style record index over an uncompressed WARC: write the synthetic
    crawl as ONE sorted ``.warc`` part, read it back with per-record seekable
    extents, and emit (url, rec_offset, rec_length).  The DuckDB oracle
    re-derives every extent in CLOSED FORM from ``documents`` alone — record
    length from the serialized header/payload byte arithmetic, offset as the
    running sum over doc_id order — so a hash match proves the reader's
    offsets tile the file exactly as the writer laid it out."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.sources.warc import read_warc, write_warc_files

    docs = _docs(spark, sf_dir)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://d"),
            F.pmod("doc_id", F.lit(20)).cast("string"),
            F.lit(".example.org/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
    ).repartition(1).sortWithinPartitions("doc_id")
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warc_ix_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_warc_files(pages, out, compress=False)
    w = read_warc(spark, os.path.join(out, "*.warc"), with_offsets=True)
    return w.select("url", "rec_offset", "rec_length")


@contract(
    oracle="""
        -- every CDXJ field restated in closed form from documents —
        -- never reading the shards — so the match proves the format
        -- write -> range-sorted shards -> parse -> casts end-to-end
        SELECT 'org,example,s' || (doc_id % 9) || ')/p/' || doc_id
                 AS key,
               strftime(TIMESTAMP '2024-01-01 00:00:00'
                          + to_seconds(doc_id), '%Y%m%d%H%M%S') AS ts14,
               'https://s' || (doc_id % 9) || '.example.org/p/' || doc_id
                 AS url,
               'text/html' AS mime,
               CAST(200 + doc_id % 3 AS INTEGER) AS status,
               md5(text) AS digest,
               CAST(octet_length(encode(text)) AS BIGINT) AS length,
               CAST(doc_id * 1000 AS BIGINT) AS "offset",
               'part-0000' || (doc_id % 2) || '.warc.gz' AS filename
        FROM documents
    """,
    plan=(
        "CDXJ read is a parallel text scan + JVM regexp/from_json projection: zero "
        "Python, zero shuffle (the ONE range exchange is paid at WRITE time, off this "
        "plan)"
    ),
    must=["from_json"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Window"],
)
def q_cdxj_roundtrip(spark, sf_dir):
    """CDXJ capture index (sources/cdx.py): write sorted ``cdx-*.gz``
    shards + cluster.idx from synthesized captures, read them back through
    the JVM-side parser, and return the typed rows.  Every field is a
    closed-form function of (doc_id, text) — the oracle restates them
    (incl. the SURT key and ts14) without touching the files, so a hash
    match proves format → shard sort → parse → casts are all exact."""
    import shutil
    import tempfile

    _ship_package(spark)
    from html_parser_spark.sources.cdx import read_cdxj, write_cdxj_files

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    caps = docs.select(
        F.concat(
            F.lit("https://s"), F.pmod("doc_id", F.lit(9)).cast("string"),
            F.lit(".example.org/p/"), did,
        ).alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.lit("text/html").alias("mime"),
        (F.lit(200) + F.pmod("doc_id", F.lit(3))).cast("int").alias("status"),
        F.md5(F.encode("text", "UTF-8")).alias("digest"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("length"),
        (F.col("doc_id") * 1000).alias("offset"),
        F.concat(
            F.lit("part-0000"), F.pmod("doc_id", F.lit(2)).cast("string"),
            F.lit(".warc.gz"),
        ).alias("filename"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cdxj_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(out, ignore_errors=True)
    write_cdxj_files(caps, out, num_shards=4)
    return read_cdxj(spark, os.path.join(out, "cdx-*.gz"))


@contract(
    oracle="""
        -- expected extraction restated symbolically from the SOURCE
        -- text (writer input), never from the PDF bytes — a hash match
        -- proves the binary parse (objects, FlateDecode, 4 operator
        -- styles, escapes, UTF-16BE, kerning, line assembly) round-trips
        SELECT doc_id,
               '1.4' AS pdf_version,
               CAST(2 AS INTEGER) AS n_pages,
               CAST(length(substr(text, 1, 120)) + 2 AS INTEGER)
                 AS n_chars,
               substr(text, 1, 40) || chr(10) || substr(text, 41, 40)
                 || chr(10) || substr(text, 81, 40) AS pdf_text
        FROM documents
    """,
    plan=(
        "PDF binary parse: fixture-writer UDF + ONE Arrow extract stage back-to-back "
        "in the same pipeline, zero shuffle"
    ),
    must=["ArrowEvalPython"],
    must_not=["Exchange", "BatchEvalPython", "Window", "Join"],
)
def q_pdf_text(spark, sf_dir):
    """Native PDF text extraction (ops/pdf.py — the north rule's
    "PDF/layout parse" leg): each doc's text becomes a real 2-page PDF via
    the deterministic writer (doc_id % 4 cycles the operator/string style:
    Td+literal escapes, TL+' moves, Tm+hex+TJ kerning, split runs + mixed
    encodings — Flate-compressed streams on variants 1/3), then
    ``pdf_text`` parses the binary back.  Extraction is closed-form — 40-char
    lines joined by newlines — so the DuckDB oracle reconstructs the
    expected text symbolically from ``documents.text``; a hash match proves
    object scan, FlateDecode, all four operator styles, string escapes,
    UTF-16BE handling, kern-space rule, and geometric line assembly are
    byte-exact."""
    _ship_package(spark)
    from html_parser_spark.ops.pdf import make_text_pdf_udf, pdf_text

    docs = _docs(spark, sf_dir)
    make = make_text_pdf_udf()
    pdfs = docs.select(
        "doc_id",
        make(F.col("text"), F.pmod("doc_id", F.lit(4)).cast("int")).alias(
            "payload"
        ),
    )
    return pdf_text(pdfs).select(
        "doc_id", "pdf_version", "n_pages", "n_chars", "pdf_text"
    )


@contract(
    oracle="""
        -- expected label per payload family in closed form — the match
        -- proves every magic-byte branch + the html tag scan + the
        -- binary-byte text/plain split fire on REAL bytes
        SELECT doc_id,
               CASE doc_id % 12
                 WHEN 0 THEN 'application/pdf'
                 WHEN 1 THEN 'image/png'
                 WHEN 2 THEN 'image/gif'
                 WHEN 3 THEN 'image/jpeg'
                 WHEN 4 THEN 'audio/wav'
                 WHEN 5 THEN 'application/gzip'
                 WHEN 6 THEN 'application/zip'
                 WHEN 7 THEN 'text/html'
                 WHEN 8 THEN 'text/xml'
                 WHEN 9 THEN 'text/plain'
                 WHEN 10 THEN 'audio/mpeg'
                 ELSE 'application/octet-stream'
               END AS mime
        FROM documents
    """,
    plan=(
        "magic-byte sniff is pure JVM codegen: no Python stage, no shuffle, fused into "
        "the scan's stage"
    ),
    must=["codegen id"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"],
)
def q_mime_sniff(spark, sf_dir):
    """Magic-byte content-type sniffing (ops/mime.mime_sniff — the router
    gate in front of the mixed-corpus extractor): 12 payload families
    cycled by doc_id % 12 (PDF, PNG, GIF, JPEG, RIFF/WAVE, gzip, zip,
    whitespace-led HTML, <?xml, plain text, ID3, and control-byte junk),
    built as real bytes via latin-1 encode.  The sniff is pure JVM codegen;
    the oracle states the expected label per family in closed form."""
    from html_parser_spark.ops.mime import mime_sniff

    docs = _docs(spark, sf_dir)
    k = F.pmod("doc_id", F.lit(12))
    s = F.substring("text", 1, 30)
    raw = (
        F.when(k == 0, F.lit("%PDF-1.5 obj junk"))
        .when(k == 1, F.lit("\x89PNG\r\n\x1a\nIHDRrest"))
        .when(k == 2, F.concat(F.lit("GIF89a"), s))
        .when(k == 3, F.lit("\xff\xd8\xff\xe0JFIF"))
        .when(k == 4, F.lit("RIFF\x24\x00\x00\x00WAVEfmt "))
        .when(k == 5, F.lit("\x1f\x8b\x08\x00deflated"))
        .when(k == 6, F.lit("PK\x03\x04zipentry"))
        .when(k == 7, F.concat(F.lit("  \n\t<!DOCTYPE HTML><html><body>"), s))
        .when(k == 8, F.lit('<?xml version="1.0"?><root/>'))
        .when(k == 9, F.concat(F.lit("plain: "), s))
        .when(k == 10, F.lit("ID3\x04\x00tagged"))
        .otherwise(F.lit("\x00\x01\x02 control junk"))
    )
    payloads = docs.select(
        "doc_id", F.encode(raw, "ISO-8859-1").alias("payload")
    )
    return payloads.select(
        "doc_id", mime_sniff(F.col("payload")).alias("mime")
    )


@contract(
    oracle="""
        -- full semantic replay: overlapping 8-token windows -> md5 ->
        -- global min-occurrence election -> gaps-and-islands interval
        -- merge -> token cut -> ordered reassembly
        WITH base AS (
          SELECT doc_id,
                 'cookie banner accept all our terms and privacy policy today '
                 || text
                 || CASE WHEN doc_id % 3 = 0
                      THEN ' subscribe to our newsletter for more updates daily'
                      ELSE '' END AS t
          FROM documents
        ),
        docs2 AS (
          SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS arr
          FROM base
        ),
        grams AS (
          SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                 md5(array_to_string(arr[u.i+1 : u.i+8], ' ')) AS h
          FROM docs2,
               LATERAL (SELECT unnest(range(0, len(arr) - 7)) AS i) AS u
          WHERE len(arr) >= 8
        ),
        firsts AS (
          SELECT h, count(*) AS c,
                 min(doc_id * 1000000 + pos) AS mk
          FROM grams GROUP BY h
        ),
        dups AS (
          SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
          FROM grams g JOIN firsts f USING (h)
          WHERE f.c > 1 AND g.doc_id * 1000000 + g.pos <> f.mk
        ),
        flag AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS ng
          FROM dups
        ),
        grp AS (
          SELECT doc_id, s, e,
                 sum(ng) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS gid
          FROM flag
        ),
        islands AS (
          SELECT doc_id, min(s) AS s, max(e) AS e
          FROM grp GROUP BY doc_id, gid
        ),
        toks AS (
          SELECT doc_id,
                 CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS i,
                 unnest(arr) AS tok
          FROM docs2
        ),
        kept AS (
          SELECT t.doc_id, t.i, t.tok
          FROM toks t LEFT JOIN islands v
            ON t.doc_id = v.doc_id AND t.i >= v.s AND t.i < v.e
          WHERE v.doc_id IS NULL
        )
        SELECT d.doc_id,
               CAST(len(d.arr) AS BIGINT) AS n_tokens,
               CAST(len(d.arr) - coalesce(kc.nk, 0) AS BIGINT)
                 AS n_dropped,
               CAST(coalesce(iv.n_iv, 0) AS BIGINT) AS n_intervals,
               coalesce(kt.txt, '') AS clean_text
        FROM docs2 d
        LEFT JOIN (SELECT doc_id, count(*) AS n_iv FROM islands
                   GROUP BY doc_id) iv USING (doc_id)
        LEFT JOIN (SELECT doc_id, count(*) AS nk FROM kept
                   GROUP BY doc_id) kc USING (doc_id)
        LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS txt
                   FROM kept GROUP BY doc_id) kt USING (doc_id)
    """,
    plan=(
        "overlapping-window dedup: groupBy(md5) with map-side partials + equi-joins; "
        "interval merge is a JVM aggregate over per-doc arrays — no Window, no Python, "
        "no cartesian"
    ),
    must=["HashAggregate"],
    must_not=["Window", "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
)
def q_exact_substring(spark, sf_dir):
    """Exact-substring dedup (ops/corpus.exact_substring_dedup — Lee et
    al. 2022): overlapping 8-token windows, keep-first, interval merge.
    Every doc gets a 10-token cookie-banner prefix (dup across ALL docs)
    and every third doc a 9-token newsletter suffix (dup across a third)
    — so the check exercises keep-first election (doc 0 keeps both),
    single- and multi-interval merges, and boundary windows straddling
    into unique text (which must NOT be cut).  The DuckDB oracle replays
    the full semantics (windows → min-occurrence → gaps-and-islands →
    cut) over the same synthesized text."""
    from html_parser_spark.ops.corpus import exact_substring_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit(
                "cookie banner accept all our terms and privacy policy today "
            ),
            F.col("text"),
            F.when(
                F.pmod("doc_id", F.lit(3)) == 0,
                F.lit(" subscribe to our newsletter for more updates daily"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return exact_substring_dedup(docs, window_tokens=8)


@contract(
    oracle="""
        SELECT 'https://synth.example/' || lang || '/' || doc_id || '-0.html' AS url,
               1 AS n_entries,
               'DOC' || doc_id AS headword,
               1 AS n_defs
        FROM documents
    """,
)
def q_extract_entries(spark, sf_dir):
    """Entry-struct check over the synthetic extraction: headword + counts."""
    _ship_package(spark)
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, sf_dir, paragraphs=1)
    res = extract_pages(pages)
    return res.select(
        "url",
        "n_entries",
        F.col("entries")[0]["spelling"].alias("headword"),
        F.size(F.col("entries")[0]["definitions"]).alias("n_defs"),
    )


@contract(
    oracle="""
        SELECT 'https://synth.example/' || lang || '/' || doc_id || '-0.html' AS url,
               1 AS n_expressions,
               'DOC' || doc_id AS spelling0,
               'сущ.' AS tag0
        FROM documents
    """,
)
def q_migrate_v21(spark, sf_dir):
    """The fused v1→v2.1 migration UDF over synthetic pages: per-url
    expression count + first spelling variant + harvested first tag."""
    _ship_package(spark)
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.dictionary import migrate_results
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, sf_dir, paragraphs=1)
    mig = migrate_results(extract_pages(pages))
    first = F.col("entries_v21")[0]
    return mig.select(
        "url",
        F.size("entries_v21").alias("n_expressions"),
        first["spelling"][0].alias("spelling0"),
        first["details"][0]["definitionDetails"][0]["definitions"][0]["tags"][0].alias(
            "tag0"
        ),
    )


@contract(
    oracle="""
        -- rebuild the expected markdown symbolically: every block is a
        -- deterministic function of doc_id and collapsed text slices;
        -- the blockquote is the one block that can collapse to empty
        -- (and must then be DROPPED, like the kernel does)
        WITH c AS (
          SELECT doc_id,
                 trim(regexp_replace(substr(text, 1, 60),
                      '\\s+', ' ', 'g')) AS c1,
                 trim(regexp_replace(substr(text, 61, 30),
                      '\\s+', ' ', 'g')) AS c2,
                 trim(regexp_replace(substr(text, 91, 30),
                      '\\s+', ' ', 'g')) AS c3,
                 trim(regexp_replace(substr(text, 121, 20),
                      '\\s+', ' ', 'g')) AS c4
          FROM documents
        ), b AS (
          SELECT doc_id,
                 list_filter([
                   '# Doc ' || doc_id,
                   trim(c1 || ' **bold' || doc_id || '** and [link '
                        || doc_id || '](https://x.org/' || doc_id
                        || ').'),
                   '- ' || trim('alpha ' || c2) || chr(10)
                       || '- beta *it' || doc_id || '*' || chr(10)
                       || '  - nested ' || doc_id,
                   CASE WHEN c3 <> '' THEN '> ' || c3 END,
                   '```' || chr(10) || 'code  ' || doc_id || chr(10)
                       || '  line2' || chr(10) || '```',
                   '1. first' || chr(10) || '2. second ' || doc_id,
                   '| k | v |' || chr(10) || '| --- | --- |' || chr(10)
                       || '| ' || doc_id || ' | ' || c4 || ' |',
                   '---'
                 ], x -> x IS NOT NULL) AS blocks
          FROM c
        )
        SELECT 'https://md.example.org/' || doc_id AS url,
               array_to_string(blocks, chr(10) || chr(10)) AS markdown,
               CAST(length(array_to_string(blocks, chr(10) || chr(10)))
                    AS INTEGER) AS md_chars,
               CAST(len(blocks) AS INTEGER) AS n_blocks
        FROM b
    """,
    plan="markdown render, guarded: ONE scan, ONE Arrow stage, zero shuffle",
    must=["ArrowEvalPython"],
    must_not=["Exchange", "BatchEvalPython", "Window", "Join"],
    nodes=_GUARDED_STAGE,
    plan_kwargs={"max_html_bytes": _JOB_HTML_CAP},
)
def q_markdown(spark, sf_dir, max_html_bytes=None):
    """HTML→Markdown conversion (ops/markdown.py) over synthesized pages
    exercising every block family: heading, paragraph with bold/link
    inline, nested ul + ol, blockquote, fenced pre (whitespace preserved),
    header table with separator row, hr.  The DuckDB oracle reconstructs
    the expected markdown string symbolically from ``documents.text`` — a
    hash match proves block order, inline rendering, list indentation,
    whitespace collapse, and the empty-block drop are all byte-exact."""
    _ship_package(spark)
    from html_parser_spark.data.pages import _esc
    from html_parser_spark.ops.markdown import to_markdown

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    s1 = _esc(F.substring("text", 1, 60))
    s2 = _esc(F.substring("text", 61, 30))
    s3 = _esc(F.substring("text", 91, 30))
    s4 = _esc(F.substring("text", 121, 20))
    html = F.concat(
        F.lit(
            "<html><head><title>t</title><script>var x=1;</script></head>"
            "<body>\n<h1>Doc "
        ),
        did,
        F.lit("</h1>\n<p>"),
        s1,
        F.lit(" <b>bold"),
        did,
        F.lit('</b> and <a href="https://x.org/'),
        did,
        F.lit('">link '),
        did,
        F.lit("</a>.</p>\n<ul><li>alpha "),
        s2,
        F.lit("</li><li>beta <i>it"),
        did,
        F.lit("</i><ul><li>nested "),
        did,
        F.lit("</li></ul></li></ul>\n<blockquote>"),
        s3,
        F.lit("</blockquote>\n<pre>code  "),
        did,
        F.lit("\n  line2</pre>\n<ol><li>first</li><li>second "),
        did,
        F.lit("</li></ol>\n<table><tr><th>k</th><th>v</th></tr><tr><td>"),
        did,
        F.lit("</td><td>"),
        s4,
        F.lit("</td></tr></table>\n<hr>\n</body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://md.example.org/"), did).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    return to_markdown(pages, max_html_bytes=max_html_bytes).select(
        "url", "markdown", "md_chars", "n_blocks"
    )


@contract(
    oracle="""
        -- the payload is a pure function of doc_id % 41, so the digest
        -- groups ARE the % 41 groups; original = min (ts, url), replayed
        -- with a window (ties on ts are real: ts is doc_id % 7 days)
        WITH caps AS (
          SELECT 'https://w' || (doc_id % 5) || '.example.org/p'
                     || doc_id AS url,
                 TIMESTAMP '2024-01-01 00:00:00'
                     + (doc_id % 7) * INTERVAL 1 DAY AS ts,
                 doc_id % 41 AS grp
          FROM documents
        ), w AS (
          SELECT url, ts,
                 row_number() OVER win AS rn,
                 first_value(url) OVER win AS furl,
                 first_value(ts) OVER win AS fts
          FROM caps
          WINDOW win AS (PARTITION BY grp ORDER BY ts, url)
        )
        SELECT url,
               strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               (rn > 1) AS is_revisit,
               CASE WHEN rn > 1 THEN furl END AS refers_to_url,
               CASE WHEN rn > 1 THEN strftime(fts, '%Y-%m-%dT%H:%M:%SZ')
                    END AS refers_to_date
        FROM w
    """,
    plan=(
        "digest dedup: ONE sha1 shuffle (map-side partial_min of the (ts,url) struct; "
        "SortAggregate — struct min is not hash-aggregable) + equi-join back, no "
        "window, zero Python"
    ),
    must=["partial_min", "Exchange hashpartitioning(payload_digest"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_warc_revisit(spark, sf_dir):
    """WARC 1.1 revisit classification (sources/warc.revisit_plan): the
    digest-dedup plan web archives use to store each payload once.  41
    payload groups × repeat captures with deliberate timestamp ties; the
    original is the min (warc_ts, url) struct per sha1 digest.  The DuckDB
    oracle replays the rule with a window over the symbolic group key —
    the payload is a pure function of ``doc_id % 41``, so grouping by that
    key IS grouping by digest."""
    _ship_package(spark)
    from html_parser_spark.sources.warc import revisit_plan

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    caps = docs.select(
        F.concat(
            F.lit("https://w"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/p"),
            did,
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id") % 7) * 86400
        ).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("payload-"), (F.col("doc_id") % 41).cast("string")),
            "UTF-8",
        ).alias("html"),
    )
    planned = revisit_plan(caps)
    return planned.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "is_revisit",
        "refers_to_url",
        F.date_format("refers_to_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "refers_to_date"
        ),
    )


@contract(
    oracle="""
        -- paragraphs = the 5-token chunk_plan tiles (same tiling the
        -- q_chunk_plan oracle proves), then global keep-first by the
        -- (doc_id, pos) struct minimum and ordered reassembly
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents
        ), c AS (
          SELECT doc_id, w,
                 unnest(generate_series(
                   0, CAST(ceil(len(w) / 5.0) AS BIGINT) - 1)) AS pos
          FROM t
        ), paras AS (
          SELECT doc_id, pos,
                 array_to_string(
                   list_slice(w, pos * 5 + 1, pos * 5 + 5), ' ') AS para
          FROM c
        ), ph AS (
          SELECT doc_id, pos, para, md5(trim(para)) AS h
          FROM paras WHERE trim(para) <> ''
        ), firsts AS (
          SELECT h, min(struct_pack(doc_id := doc_id, pos := pos)) AS fmin
          FROM ph GROUP BY h
        ), flagged AS (
          SELECT ph.doc_id, ph.pos, ph.para,
                 struct_pack(doc_id := ph.doc_id, pos := ph.pos) = f.fmin
                   AS kept
          FROM ph JOIN firsts f USING (h)
        )
        SELECT doc_id,
               count(*) AS n_paras,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_paras_kept,
               coalesce(string_agg(CASE WHEN kept THEN para END,
                                   chr(10) || chr(10) ORDER BY pos), '')
                 AS clean_text
        FROM flagged GROUP BY doc_id
    """,
    plan=(
        "global keep-first: groupBy(md5(para)) with map-side partial_min of the "
        "(doc_id,pos) struct + equi-join back on the 16-byte hash; NEVER a window over "
        "paragraph text (zipfian hot paragraphs), zero Python"
    ),
    must=["partial_min", "Exchange hashpartitioning(h#"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_paragraph_dedup(spark, sf_dir):
    """Global exact paragraph dedup (RefinedWeb §G.2 / Dolma paragraph
    pass): the sf corpus is single-line, so paragraphs are synthesized as
    the 5-token chunk_plan tiles (the same tiling q_chunk_plan already
    proves cross-engine), rebuilt into '\\n\\n'-joined text, then
    deduplicated keep-first by global (doc_id, pos) minimum.  Returning
    clean_text makes the hash byte-exact on the ordered reassembly."""
    from html_parser_spark.ops.corpus import chunk_plan, paragraph_dedup

    tiles = chunk_plan(_docs(spark, sf_dir), chunk_tokens=5)
    para_docs = tiles.groupBy("doc_id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s.chunk_text,
            ),
        ).alias("text")
    )
    return paragraph_dedup(para_docs)


@contract(
    oracle="""
        -- EXPECTED charset + decoded text in closed form (each body is
        -- a pure function of doc_id%7) — checks the JVM sniff chain and
        -- the Arrow decode kernel without a second decoder
        WITH x AS (
          SELECT doc_id,
                 CASE doc_id % 7
                   WHEN 0 THEN 'utf-8'
                   WHEN 1 THEN 'windows-1251'
                   WHEN 2 THEN 'koi8-r'
                   WHEN 3 THEN 'utf-8'
                   WHEN 4 THEN 'windows-1252'
                   WHEN 5 THEN 'windows-1252'
                   ELSE 'utf-16le' END AS charset,
                 CASE doc_id % 7
                   WHEN 0 THEN 'привет мир #' || doc_id
                   WHEN 1 THEN '<html><head><meta charset="windows-1251">'
                               || '</head><body>привет мир #' || doc_id
                               || '</body></html>'
                   WHEN 2 THEN '<?xml version=''1.0'' encoding=''koi8-r''?>'
                               || '<d>мир #' || doc_id || '</d>'
                   WHEN 3 THEN 'naïve café #' || doc_id
                   WHEN 4 THEN 'café premium #' || doc_id
                   WHEN 5 THEN '<meta http-equiv="Content-Type" content='
                               || '"text/html; charset=latin-1"><p>déjà #'
                               || doc_id
                   ELSE 'utf16 text #' || doc_id END AS text
          FROM documents
        )
        SELECT doc_id, charset, text, length(text) AS n_chars FROM x
    """,
    plan=(
        "charset sniff is pure JVM codegen fused into the scan projection; decode is "
        "ONE Arrow kernel; zero shuffle"
    ),
    must=["ArrowEvalPython"],
    must_not=["Exchange", "BatchEvalPython", "Window", "Join"],
)
def q_charset(spark, sf_dir):
    """Charset sniff + decode battery (ops/encoding.py): seven body
    families by doc_id%7 — UTF-8 BOM, <meta> cp1251, <?xml koi8-r,
    unlabeled valid UTF-8, unlabeled invalid UTF-8 → windows-1252 default,
    latin-1 alias fold via http-equiv, UTF-16LE BOM — built as binary
    literals plus JVM-encoded ASCII / UTF-16LE per-doc markers, so the
    decoded text varies per row.  Detection is pure JVM codegen; decode is
    ONE Arrow kernel.  The oracle states charset and decoded text in
    closed form (no second decoder)."""
    from html_parser_spark.ops.encoding import decode_pages

    did = F.col("doc_id").cast("string")
    mark = F.concat(F.lit(" #"), did)
    ascii_mark = F.encode(mark, "US-ASCII")
    case = F.col("doc_id") % 7
    body = (
        F.when(
            case == 0,
            F.concat(
                F.lit(b"\xef\xbb\xbf"),
                F.encode(F.concat(F.lit("привет мир"), mark), "UTF-8"),
            ),
        )
        .when(
            case == 1,
            F.concat(
                F.lit(b'<html><head><meta charset="windows-1251"></head><body>'),
                F.lit("привет мир".encode("cp1251")),
                ascii_mark,
                F.lit(b"</body></html>"),
            ),
        )
        .when(
            case == 2,
            F.concat(
                F.lit(b"<?xml version='1.0' encoding='koi8-r'?><d>"),
                F.lit("мир".encode("koi8-r")),
                ascii_mark,
                F.lit(b"</d>"),
            ),
        )
        .when(case == 3, F.encode(F.concat(F.lit("naïve café"), mark), "UTF-8"))
        .when(case == 4, F.concat(F.lit(b"caf\xe9 premium"), ascii_mark))
        .when(
            case == 5,
            F.concat(
                F.lit(
                    b'<meta http-equiv="Content-Type" content="text/html; '
                    b'charset=latin-1"><p>d\xe9j\xe0'
                ),
                ascii_mark,
            ),
        )
        .otherwise(
            F.concat(
                F.lit(b"\xff\xfe"),
                F.encode(F.concat(F.lit("utf16 text"), mark), "UTF-16LE"),
            )
        )
    )
    pages = _docs(spark, sf_dir).select("doc_id", body.alias("body"))
    out = decode_pages(pages)
    return out.select(
        "doc_id", "charset", "text", F.length("text").cast("long").alias("n_chars")
    )


@contract(
    oracle="""
        -- the Bloom filter's exact bit arithmetic replayed: salted-md5
        -- 32-bit positions, 62-bit words (1<<63 overflows DuckDB's
        -- signed BIGINT — both engines cap the in-word shift at 61)
        WITH seen AS (
          SELECT 'https://s' || (doc_id % 50) || '.com/p' || doc_id AS url
          FROM documents WHERE doc_id < 400
        ), spos AS (
          SELECT list_reduce(list_transform(range(1, 9), j ->
                   CAST(strpos('0123456789abcdef',
                        substring(md5(url || '_' || i), j, 1)) - 1
                        AS BIGINT)),
                 (a, b) -> a * 16 + b) % 65536 AS p
          FROM (SELECT url, unnest(range(0, 5)) AS i FROM seen)
        ), words AS (
          SELECT p // 62 AS word_idx,
                 bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INT)) AS word
          FROM spos GROUP BY 1
        ), cand AS (
          SELECT 'https://s' || (doc_id % 50) || '.com/p' || doc_id AS url
          FROM documents
        ), cpos AS (
          SELECT url,
                 list_reduce(list_transform(range(1, 9), j ->
                   CAST(strpos('0123456789abcdef',
                        substring(md5(url || '_' || i), j, 1)) - 1
                        AS BIGINT)),
                 (a, b) -> a * 16 + b) % 65536 AS p
          FROM (SELECT url, unnest(range(0, 5)) AS i FROM cand)
        ), cj AS (
          SELECT c.url,
                 CASE WHEN w.word IS NOT NULL AND
                      (w.word & (CAST(1 AS BIGINT)
                                 << CAST(c.p % 62 AS INT))) <> 0
                      THEN 1 ELSE 0 END AS hit
          FROM cpos c LEFT JOIN words w ON c.p // 62 = w.word_idx
        )
        SELECT url, min(hit) = 1 AS maybe_seen FROM cj GROUP BY url
    """,
    plan=(
        "distributed bitset: bit_or partial aggregation into (word_idx, word) rows, "
        "probe is an equi-join on word_idx (AQE broadcasts the tiny bitset), zero "
        "Python"
    ),
    must=["bit_or", "Exchange hashpartitioning(word_idx"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_bloom_seen(spark, sf_dir):
    """Bloom-filter crawl seen-set: build a 65536-bit filter over the
    first 400 synthetic URLs (salted-md5 positions, 62-bit words — both
    engines agree bit-for-bit), probe all 500.  No false negatives by
    construction; any false positive is deterministic and reproduced by
    the oracle's identical arithmetic."""
    from html_parser_spark.ops.bloom import bloom_build, bloom_probe

    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://s"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".com/p"),
        F.col("doc_id").cast("string"),
    )
    seen = docs.filter(F.col("doc_id") < 400).select(url.alias("url"))
    cand = docs.select(url.alias("url"))
    bits = bloom_build(seen, m_bits=65536, k_hashes=5)
    return bloom_probe(bits, cand, m_bits=65536, k_hashes=5)


def _hits_oracle_sql(iterations: int = 3) -> str:
    """Unrolled-CTE replica of ops/linkgraph.hits_fixed_point over the
    q_pagerank/q_hits synthetic graph: identical half-step rescales in
    HUGEINT (Spark rides DECIMAL(38,0) — same exact-integer semantics),
    ``//`` floor division on strictly non-negative operands, so the chain
    is bit-exact regardless of shuffle/aggregation order."""
    S = 10**12
    parts = [f"""e0 AS (
  SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
), edges AS (
  SELECT 'h' || s AS src, 'h' || t AS dst, CAST(COUNT(*) AS BIGINT) AS weight
  FROM e0 WHERE s <> t GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
), h0 AS (
  SELECT node, CAST({S} // n AS BIGINT) AS hub FROM nodes, nn
)"""]
    for k in range(iterations):
        parts.append(f""", ar{k} AS (
  SELECT e.dst AS node, SUM(CAST(h.hub AS HUGEINT) * e.weight) AS raw
  FROM edges e JOIN h{k} h ON h.node = e.src GROUP BY e.dst
), at{k} AS (SELECT COALESCE(SUM(raw), 0) AS t FROM ar{k}
), a{k + 1} AS (
  SELECT n.node,
         CAST(CASE WHEN t.t > 0
                   THEN (COALESCE(r.raw, 0) * {S}) // t.t
                   ELSE 0 END AS BIGINT) AS auth
  FROM nodes n LEFT JOIN ar{k} r ON r.node = n.node, at{k} t
), hr{k} AS (
  SELECT e.src AS node, SUM(CAST(a.auth AS HUGEINT) * e.weight) AS raw
  FROM edges e JOIN a{k + 1} a ON a.node = e.dst GROUP BY e.src
), ht{k} AS (SELECT COALESCE(SUM(raw), 0) AS t FROM hr{k}
), h{k + 1} AS (
  SELECT n.node,
         CAST(CASE WHEN t.t > 0
                   THEN (COALESCE(r.raw, 0) * {S}) // t.t
                   ELSE 0 END AS BIGINT) AS hub
  FROM nodes n LEFT JOIN hr{k} r ON r.node = n.node, ht{k} t
)""")
    return (
        "WITH " + "".join(parts)
        + f"\nSELECT a.node, a.auth, h.hub"
        f"\nFROM a{iterations} a JOIN h{iterations} h ON h.node = a.node"
    )


@contract(
    oracle=_hits_oracle_sql(3),
    plan=(
        "HITS half-steps are edge⋈rank equi-joins with partial-agg sums; rescale "
        "totals ride 1-row broadcasts, never a window or cartesian over nodes"
    ),
    must=["HashAggregate", "BroadcastNestedLoopJoin"],
    must_not=["CartesianProduct", "Window", "ArrowEvalPython", "BatchEvalPython"],
    plan_kwargs={"checkpoint": False},
)
def q_hits(spark, sf_dir, checkpoint=True):
    """Weighted HITS hubs/authorities in fixed-point integer arithmetic
    (ops/linkgraph.hits_fixed_point) over the shared synthetic 45-host
    graph of q_pagerank: 3 iterations, each half-step rescaled to total
    mass 10^12 with exact 64-bit/decimal integer ops, so the DuckDB
    oracle's unrolled HUGEINT CTEs hash-match EXACTLY — the same
    cross-engine guarantee float HITS can never give.  Hosts 40-44 are
    dangling (inlinks only): authorities > 0, hubs == 0 — pinned by the
    value hash."""
    docs = _docs(spark, sf_dir)
    from html_parser_spark.ops.linkgraph import hits_fixed_point

    edges = _synth_host_edges(docs)
    return hits_fixed_point(edges, iterations=3, checkpoint=checkpoint).select(
        "node",
        F.col("auth").cast("long").alias("auth"),
        F.col("hub").cast("long").alias("hub"),
    )


# Shared CTE chain for the stupid-backoff trigram LM oracles: rebuild the
# order-1/2/3 count tables over the same whitespace tokens, score every
# token with the IDENTICAL scaled-BIGINT `//` expressions (backoff 0.4 as
# the rational 2/5), aggregate per doc.  Used by q_lm_score and, extended
# with the per-lang histogram-cumulative bucketing, by q_lm_buckets.
_LM_CTES = """toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), ev0 AS (
              SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
              FROM toks
            ), ev AS (
              SELECT doc_id, t[i] AS tok,
                     CASE WHEN i >= 2 THEN t[i - 1] END AS c1,
                     CASE WHEN i >= 3 THEN t[i - 2] || ' ' || t[i - 1] END AS c2
              FROM ev0
            ), g1 AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS cnt1 FROM ev GROUP BY tok
            ), n1 AS (
              SELECT CAST(count(*) AS BIGINT) AS tot1 FROM ev
            ), g2 AS (
              SELECT c1, tok, CAST(count(*) AS BIGINT) AS cnt2
              FROM ev WHERE c1 IS NOT NULL GROUP BY c1, tok
            ), t2 AS (
              SELECT c1, CAST(sum(cnt2) AS BIGINT) AS tot2 FROM g2 GROUP BY c1
            ), g3 AS (
              SELECT c2, tok, CAST(count(*) AS BIGINT) AS cnt3
              FROM ev WHERE c2 IS NOT NULL GROUP BY c2, tok
            ), t3 AS (
              SELECT c2, CAST(sum(cnt3) AS BIGINT) AS tot3 FROM g3 GROUP BY c2
            ), sc AS (
              SELECT ev.doc_id,
                CASE
                  WHEN m3.cnt3 IS NOT NULL
                    THEN (m3.cnt3 * 1000000) // m3.tot3
                  WHEN m2.cnt2 IS NOT NULL AND ev.c2 IS NOT NULL
                    THEN (m2.cnt2 * 1000000 * 2) // (m2.tot2 * 5)
                  WHEN m2.cnt2 IS NOT NULL
                    THEN (m2.cnt2 * 1000000) // m2.tot2
                  WHEN m1.cnt1 IS NOT NULL AND ev.c2 IS NOT NULL
                    THEN (m1.cnt1 * 1000000 * 4) // (m1.tot1 * 25)
                  WHEN m1.cnt1 IS NOT NULL AND ev.c1 IS NOT NULL
                    THEN (m1.cnt1 * 1000000 * 2) // (m1.tot1 * 5)
                  WHEN m1.cnt1 IS NOT NULL
                    THEN (m1.cnt1 * 1000000) // m1.tot1
                  ELSE 0 END AS s,
                CASE WHEN m3.cnt3 IS NOT NULL THEN 1 ELSE 0 END AS h3,
                CASE WHEN m3.cnt3 IS NULL AND m2.cnt2 IS NOT NULL
                     THEN 1 ELSE 0 END AS h2,
                CASE WHEN m3.cnt3 IS NULL AND m2.cnt2 IS NULL
                          AND m1.cnt1 IS NOT NULL THEN 1 ELSE 0 END AS h1,
                CASE WHEN m3.cnt3 IS NULL AND m2.cnt2 IS NULL
                          AND m1.cnt1 IS NULL THEN 1 ELSE 0 END AS ov
              FROM ev
              LEFT JOIN (SELECT g3.c2, g3.tok, g3.cnt3, t3.tot3
                         FROM g3 JOIN t3 USING (c2)) m3
                     ON m3.c2 = ev.c2 AND m3.tok = ev.tok
              LEFT JOIN (SELECT g2.c1, g2.tok, g2.cnt2, t2.tot2
                         FROM g2 JOIN t2 USING (c1)) m2
                     ON m2.c1 = ev.c1 AND m2.tok = ev.tok
              LEFT JOIN (SELECT g1.tok, g1.cnt1, n1.tot1
                         FROM g1 CROSS JOIN n1) m1
                     ON m1.tok = ev.tok
            ), agg AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(coalesce(sum(s), 0) AS BIGINT) AS sum_score,
                     CAST(sum(h3) AS BIGINT) AS hits3,
                     CAST(sum(h2) AS BIGINT) AS hits2,
                     CAST(sum(h1) AS BIGINT) AS hits1,
                     CAST(sum(ov) AS BIGINT) AS oov
              FROM sc GROUP BY doc_id
            )"""


@contract(
    oracle=f"""
        WITH {_LM_CTES}
        SELECT toks.doc_id,
               CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(agg.sum_score, 0) AS BIGINT) AS sum_score,
               CAST(coalesce(agg.hits3, 0) AS BIGINT) AS hits3,
               CAST(coalesce(agg.hits2, 0) AS BIGINT) AS hits2,
               CAST(coalesce(agg.hits1, 0) AS BIGINT) AS hits1,
               CAST(coalesce(agg.oov, 0) AS BIGINT) AS oov,
               CAST(CASE WHEN coalesce(agg.n_tokens, 0) > 0
                    THEN agg.sum_score // agg.n_tokens
                    ELSE 0 END AS BIGINT) AS avg_score
        FROM toks LEFT JOIN agg USING (doc_id)
    """,
    plan=(
        "trigram LM train (partial-agg groupBys) + score (three LEFT equi-joins on "
        "(ctx, tok)); integer div scoring, zero Python, no window, no cartesian"
    ),
    must=["HashAggregate", "Generate"],
    must_not=["CartesianProduct", "Window", "ArrowEvalPython", "BatchEvalPython"],
)
def q_lm_score(spark, sf_dir):
    """Stupid-backoff trigram LM, trained AND scored on `documents`
    (ops/lm.py): the CCNet-style count-based model-fit signal, integer-
    exact (scaled `div` arithmetic, BIGINT sums — no float log, no
    order-dependent float SUM).  Two partial-agg groupBys train; three
    LEFT equi-joins score; the oracle replays the identical counts and
    the identical BIGINT expressions symbolically."""
    from html_parser_spark.ops.lm import score_stupid_backoff, train_stupid_backoff

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    model = train_stupid_backoff(docs, n=3)
    return score_stupid_backoff(docs, model, n=3)


@contract(
    oracle=f"""
        WITH {_LM_CTES}, base AS (
          SELECT toks.doc_id,
                 CAST(CASE WHEN coalesce(agg.n_tokens, 0) > 0
                      THEN agg.sum_score // agg.n_tokens
                      ELSE 0 END AS BIGINT) AS avg_score
          FROM toks LEFT JOIN agg USING (doc_id)
        ), s AS (
          SELECT base.doc_id, d.lang, base.avg_score
          FROM base JOIN documents d USING (doc_id)
        ), hist AS (
          SELECT lang, avg_score, CAST(count(*) AS BIGINT) AS nn
          FROM s GROUP BY lang, avg_score
        ), cum AS (
          SELECT lang, avg_score,
                 CAST(coalesce(sum(nn) OVER (
                   PARTITION BY lang ORDER BY avg_score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS better,
                 CAST(sum(nn) OVER (PARTITION BY lang) AS BIGINT) AS tot
          FROM hist
        )
        SELECT s.doc_id, s.lang, s.avg_score,
               CASE least(2, (better * 3) // tot)
                 WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                 ELSE 'tail' END AS bucket
        FROM s JOIN cum USING (lang, avg_score)
    """,
    plan=(
        "CCNet bucketing: the only Window runs over the per-(lang, score) HISTOGRAM "
        "(bounded by the score scale), never over documents; assignment joins back by "
        "equi-key"
    ),
    must=["Window", "HashAggregate"],
    must_not=["CartesianProduct", "ArrowEvalPython", "BatchEvalPython"],
)
def q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (ops/lm.py): per-lang
    thirds over the trigram-LM per-token fit, assigned through a
    per-(lang, score) HISTOGRAM cumulative + equi-join — no window ever
    partitions over documents, and score ties share a bucket so the
    assignment is shuffle-order independent.  The oracle replays the
    same histogram arithmetic."""
    from html_parser_spark.ops.lm import (
        perplexity_buckets,
        score_stupid_backoff,
        train_stupid_backoff,
    )

    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", "text")
    model = train_stupid_backoff(docs, n=3)
    scored = score_stupid_backoff(docs, model, n=3)
    return perplexity_buckets(scored, d.select("doc_id", "lang"), buckets=3)


def _lpa_oracle_sql(iterations: int = 3) -> str:
    """Unrolled-CTE replica of ops/linkgraph.label_propagation over the
    shared synthetic host graph: symmetrize + sum weights, then per
    iteration the identical BIGINT label-weight sums with the
    (weight DESC, label ASC) winner election — row_number here, a
    min-struct there, same total order, so the hash matches exactly."""
    parts = ["""e0 AS (
  SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
), edges AS (
  SELECT 'h' || s AS src, 'h' || t AS dst, CAST(COUNT(*) AS BIGINT) AS weight
  FROM e0 WHERE s <> t GROUP BY 1, 2
), sym AS (
  SELECT src, dst, CAST(SUM(weight) AS BIGINT) AS weight FROM (
    SELECT src, dst, weight FROM edges
    UNION ALL
    SELECT dst, src, weight FROM edges
  ) GROUP BY src, dst
), nodes AS (
  SELECT DISTINCT src AS node FROM sym
), l0 AS (
  SELECT node, node AS label FROM nodes
)"""]
    for k in range(iterations):
        parts.append(f""", c{k} AS (
  SELECT s.src, l.label, CAST(SUM(s.weight) AS BIGINT) AS w
  FROM sym s JOIN l{k} l ON l.node = s.dst GROUP BY s.src, l.label
), w{k} AS (
  SELECT src, label FROM (
    SELECT src, label,
           row_number() OVER (PARTITION BY src
                              ORDER BY w DESC, label ASC) AS rn
    FROM c{k}) t WHERE rn = 1
), l{k + 1} AS (
  SELECT n.node, COALESCE(w{k}.label, n.node) AS label
  FROM nodes n LEFT JOIN w{k} ON w{k}.src = n.node
)""")
    return (
        "WITH "
        + "".join(parts)
        + f"\nSELECT node, label AS community FROM l{iterations}"
    )


@contract(
    oracle=_lpa_oracle_sql(3),
    plan=(
        "LPA iterations are edges⋈labels equi-joins + partial-agg min-struct "
        "elections; no window, no cartesian, zero Python"
    ),
    must=["HashAggregate"],
    must_not=["CartesianProduct", "Window", "ArrowEvalPython", "BatchEvalPython"],
    plan_kwargs={"checkpoint": False},
)
def q_label_prop(spark, sf_dir, checkpoint=True):
    """Deterministic synchronous label-propagation communities
    (ops/linkgraph.label_propagation) over the shared synthetic 45-host
    graph: symmetrized weights, 3 iterations, most-weighted neighbor
    label with (weight DESC, label ASC) tie-break — BIGINT-exact, so the
    oracle's unrolled row_number CTEs hash-match the Spark min-struct
    election exactly.  The community split of PageRank/HITS's rank
    family: mirror farms and template rings cluster here."""
    from html_parser_spark.ops.linkgraph import label_propagation

    docs = _docs(spark, sf_dir)
    return label_propagation(
        _synth_host_edges(docs), iterations=3, checkpoint=checkpoint
    )


@contract(
    oracle="""
        -- identical regexp counts + floored BIGINT divisions; the
        -- [.!?]+ / vowel-group runs count maximal matches in both
        -- engines (greedy +), so the counts agree exactly
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS t
          FROM documents
        ), c AS (
          SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_words,
                 CAST(CASE WHEN len(t) > 0 THEN greatest(
                   len(regexp_extract_all(text, '[.!?]+')), 1)
                   ELSE 0 END AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                   AS BIGINT) AS n_syllable_groups,
                 CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
          FROM toks
        )
        SELECT doc_id, n_words, n_sentences, n_syllable_groups,
               CAST(CASE WHEN n_words > 0
                    THEN (n_distinct * 10000) // n_words
                    ELSE 0 END AS BIGINT) AS ttr_x10000,
               CAST(CASE WHEN n_words > 0
                    THEN (39 * n_words) // n_sentences
                         + (1180 * n_syllable_groups) // n_words - 1559
                    ELSE 0 END AS BIGINT) AS fk_x100
        FROM c
    """,
    plan=(
        "readability/lexical profile is ONE pure-codegen projection: zero shuffle, "
        "zero Python"
    ),
    must=["*(1)"],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join", "Window"],
)
def q_readability(spark, sf_dir):
    """Readability / lexical-diversity profile (ops/text.
    readability_profile): word/sentence/syllable-group counts, scaled
    type-token ratio, floored Flesch-Kincaid-x100 — the model-free
    quality-feature family, one pure-codegen projection, zero shuffle.
    The oracle evaluates the identical regexp counts and BIGINT
    divisions."""
    from html_parser_spark.ops.text import readability_profile

    return readability_profile(_docs(spark, sf_dir).select("doc_id", "text"))


@contract(
    oracle="""
        -- identical md5 bucket/rank registers replayed on the FULL
        -- corpus (valid: the Spark side merges two halves, and
        -- union-max == global max — the lossless-merge identity),
        -- then the identical fixed-order BIGINT raw-HLL estimate
        -- (t = alpha_m·m² pre-scaled, S includes 2^33 per untouched
        -- register)
        WITH h AS (
          SELECT lang, md5('hll:' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ), br AS (
          SELECT lang,
                 CAST('0x' || substring(h, 1, 2) AS BIGINT) % 64 AS bucket,
                 CAST('0x' || substring(h, 3, 8) AS BIGINT) AS r32
          FROM h
        ), regs AS (
          SELECT lang, bucket,
                 CAST(max(CASE WHEN r32 = 0 THEN 33
                          ELSE 33 - length(bin(r32)) END) AS BIGINT) AS reg
          FROM br GROUP BY lang, bucket
        ), pg AS (
          SELECT lang,
                 CAST(sum(CAST(1 AS BIGINT) << CAST(33 - reg AS INT))
                   AS BIGINT) AS s_present,
                 CAST(count(*) AS BIGINT) AS n_present
          FROM regs GROUP BY lang
        )
        SELECT lang,
               CAST((CAST(2905 AS BIGINT) * CAST(8589934592 AS BIGINT))
                    // (s_present
                        + (64 - n_present) * CAST(8589934592 AS BIGINT))
                 AS BIGINT) AS est_distinct,
               CAST(64 - n_present AS BIGINT) AS zero_registers
        FROM pg
    """,
    plan=(
        "HLL registers: partial-agg groupBy max (the exchange is bounded by |groups|·m "
        "register cells, never by corpus size), union-max merge, pure-codegen "
        "estimate; zero Python, no join, no window"
    ),
    must=["HashAggregate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct sketch (ops/sketch.hll_*, Flajolet 2007):
    per-lang register tables built from two disjoint corpus halves, then
    MERGED (union → groupBy max — the lossless HLL merge) and estimated
    with the fixed-order BIGINT raw-HLL expression.  The crawl-ledger
    primitive: distinct-url counts per group whose shuffle is bounded by
    |groups|·m register cells, not by corpus size, and whose per-segment
    sketches union without touching raw keys.  The oracle replays the
    identical md5 buckets/ranks on the FULL corpus — valid because
    union-max ≡ global max (the merge-equals-rebuild identity the unit
    test pins)."""
    from html_parser_spark.ops.sketch import hll_estimate, hll_merge, hll_registers

    d = _docs(spark, sf_dir)
    even = hll_registers(d.where(F.col("doc_id") % 2 == 0), "doc_id", ("lang",), m=64)
    odd = hll_registers(d.where(F.col("doc_id") % 2 == 1), "doc_id", ("lang",), m=64)
    return hll_estimate(hll_merge(even, odd, ("lang",)), ("lang",), m=64)


@contract(
    oracle="""
        -- identical md5 shuffle key, shard mod, and within-shard
        -- row_number total order (skey is unique per doc_id; doc_id
        -- appended as the formal tie-break in both engines)
        WITH k AS (
          SELECT doc_id,
                 md5('shuf:r5:' || CAST(doc_id AS VARCHAR)) AS skey
          FROM documents
        )
        SELECT doc_id,
               CAST('0x' || substring(skey, 1, 4) AS BIGINT) % 8 AS shard,
               CAST(row_number() OVER (
                 PARTITION BY CAST('0x' || substring(skey, 1, 4) AS BIGINT) % 8
                 ORDER BY skey, doc_id) AS BIGINT) AS pos
        FROM k
    """,
    plan=(
        "deterministic shuffle: ONE hash exchange on the shard key + a window "
        "partitioned BY SHARD (parallel across shards, per-task bounded by the "
        "file-sized shard); never a single-partition window, zero Python"
    ),
    must=["Window", "hashpartitioning(shard"],
    must_not=["SinglePartition", "ArrowEvalPython", "BatchEvalPython"],
)
def q_corpus_shuffle(spark, sf_dir):
    """Deterministic pre-training corpus shuffle (ops/sketch.
    corpus_shuffle): shard + within-shard position keyed by
    md5(seed||doc_id) — the reproducible, resumable alternative to
    ORDER BY rand() before training-shard writes.  The within-shard rank
    window partitions BY SHARD (parallel, per-task bounded by the
    file-sized shard); the oracle replays the identical key, shard mod,
    and row_number total order."""
    from html_parser_spark.ops.sketch import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir), "doc_id", n_shards=8, seed="r5")


@contract(
    oracle="""
        -- the curve counted directly per prefix: total occurrences
        -- with doc_id <= t, distinct tokens whose FIRST doc <= t
        -- (identical lowercase whitespace tokenization)
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> len(x) > 0)) AS tok
          FROM documents
        ), firsts AS (
          SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
        ), thr AS (
          SELECT unnest([9, 24, 49, 99, 249, 499]) AS threshold
        )
        SELECT CAST(t.threshold AS BIGINT) AS threshold,
               CAST((SELECT count(*) FROM toks
                     WHERE doc_id <= t.threshold) AS BIGINT) AS n_tokens,
               CAST((SELECT count(*) FROM firsts
                     WHERE first_doc <= t.threshold) AS BIGINT)
                 AS n_distinct
        FROM thr t
    """,
    plan=(
        "Heaps'-law curve: ONE corpus-sized partial-agg groupBy(tok) min (bounded by "
        "distinct tokens); threshold bucketing is a pure array-filter projection (no "
        "join against a threshold table); the only window runs over the "
        "|thresholds|-row curve frame (bounded by construction, like "
        "_running_offsets); zero Python, no cartesian product"
    ),
    must=["HashAggregate", "Window"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
)
def q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve (ops/corpus.vocab_growth):
    (n_tokens, n_distinct) at six corpus-prefix points — the
    tokenizer-budget / OCR-noise diagnostic.  ONE groupBy(tok) min is
    the only corpus-sized shuffle; per-doc aggregates bucket to their
    covering threshold via a pure array-filter projection and the
    cumulative window runs over the 6-row curve frame only.  The oracle
    counts the same prefixes directly."""
    from html_parser_spark.ops.corpus import vocab_growth

    return vocab_growth(
        _docs(spark, sf_dir).select("doc_id", "text"),
        thresholds=[9, 24, 49, 99, 249, 499],
    )


@contract(
    oracle="""
        -- identical parity split, bucket counts, and ppm integer
        -- division (// ≡ Spark div on non-negative operands)
        WITH a AS (SELECT lang, count(*) AS n_a FROM documents
                   WHERE doc_id % 2 = 0 GROUP BY lang),
             b AS (SELECT lang, count(*) AS n_b FROM documents
                   WHERE doc_id % 2 = 1 GROUP BY lang),
             j AS (SELECT coalesce(a.lang, b.lang) AS lang,
                          coalesce(a.n_a, 0) AS n_a,
                          coalesce(b.n_b, 0) AS n_b
                   FROM a FULL OUTER JOIN b ON a.lang = b.lang),
             t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
             s AS (SELECT j.lang, j.n_a, j.n_b,
                          coalesce((j.n_a * 1000000) // nullif(t.ta, 0), 0)
                            AS share_a_ppm,
                          coalesce((j.n_b * 1000000) // nullif(t.tb, 0), 0)
                            AS share_b_ppm
                   FROM j, t)
        SELECT lang,
               CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(share_a_ppm AS BIGINT) AS share_a_ppm,
               CAST(share_b_ppm AS BIGINT) AS share_b_ppm,
               CAST(abs(share_a_ppm - share_b_ppm) AS BIGINT)
                 AS delta_ppm
        FROM s
    """,
    plan=(
        "snapshot drift: TWO partial-agg groupBys (each exchange bounded by |buckets| "
        "after map-side combine), a full-outer join on the tiny bucket frame, and the "
        "1-row broadcast-totals crossJoin; zero Python, no corpus-sized join, no window"
    ),
    must=["HashAggregate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct", "Window"],
)
def q_dist_drift(spark, sf_dir):
    """Crawl-snapshot distribution drift (ops/corpus.distribution_drift):
    per-language share delta (ppm, integer-exact IntegralDivide) between
    two snapshots carved deterministically from the documents table by
    doc_id parity — the crawl-monitoring op (TVD = Σ delta_ppm / 2·10⁶).
    Two partial-agg groupBys + a tiny full-outer bucket join + the 1-row
    broadcast-totals crossJoin; nothing corpus-sized past the scans."""
    from html_parser_spark.ops.corpus import distribution_drift

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return distribution_drift(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        bucket_col="lang",
    ).withColumnRenamed("bucket", "lang")


@contract(
    oracle="""
        -- identical word-trigram shingling ('w1_w2_w3' tokens) and
        -- tokenization (lowercase, \\s+ split, drop empty), spectrum
        -- head at freq<=8, ppm vs FULL vocab/token totals
        WITH w AS (
          SELECT list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> len(x) > 0) AS w
          FROM documents
        ), toks AS (
          SELECT unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS tok
          FROM w
          WHERE len(w) >= 3
        ), freqs AS (
          SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ), tot AS (
          SELECT count(*) AS n_ty, sum(cnt) AS n_to FROM freqs
        ), spec AS (
          SELECT cnt AS freq, count(*) AS n_types FROM freqs
          WHERE cnt <= 8 GROUP BY cnt
        )
        SELECT CAST(s.freq AS BIGINT) AS freq,
               CAST(s.n_types AS BIGINT) AS n_types,
               CAST(s.freq * s.n_types AS BIGINT) AS n_tokens,
               CAST(coalesce((s.n_types * 1000000) // t.n_ty, 0)
                 AS BIGINT) AS types_ppm,
               CAST(coalesce((s.freq * s.n_types * 1000000) // t.n_to,
                 0) AS BIGINT) AS tokens_ppm
        FROM spec s, tot t
    """,
    plan=(
        "frequency-of-frequencies: ONE corpus-sized partial-agg groupBy(tok) (bounded "
        "by distinct shingles), then a ≤8-row spectrum groupBy and the 1-row "
        "broadcast-totals crossJoin; shingling is a pure codegen array projection; "
        "zero Python, no window"
    ),
    must=["HashAggregate", "BroadcastNestedLoopJoin"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct", "Window"],
)
def q_freq_spectrum(spark, sf_dir):
    """Token frequency-of-frequencies spectrum + Good-Turing hapax mass
    (ops/corpus.freq_spectrum): n_types / ppm shares at freq 1..8.  The
    synthetic corpus has only ~31 distinct unigrams (min freq 26 at
    sf0.01 — an empty f≤8 head), so the query feeds the op word-TRIGRAM
    shingle tokens ('w1_w2_w3', whitespace-joined), which carry a real
    Zipf tail (9,424 hapaxes at sf0.01).  ONE corpus-sized
    groupBy(tok); the spectrum groupBy and the totals crossJoin are
    ≤8-row / 1-row frames.  Oracle replays the identical shingling,
    tokenization, and integer division in DuckDB."""
    from html_parser_spark.ops.corpus import freq_spectrum

    shingled = (
        _docs(spark, sf_dir)
        .select(
            F.expr(
                r"filter(split(lower(text), '\\s+'), x -> length(x) > 0)"
            ).alias("w")
        )
        .select(
            F.expr(
                "array_join(CASE WHEN size(w) >= 3"
                " THEN transform(sequence(0, size(w) - 3),"
                "      i -> concat(w[i], '_', w[i+1], '_', w[i+2]))"
                " ELSE CAST(array() AS array<string>) END, ' ')"
            ).alias("text")
        )
    )
    return freq_spectrum(shingled, max_freq=8)


def _mojibake_oracle() -> str:
    from html_parser_spark.ops.encoding import MOJIBAKE_RE

    return f"""
        -- identical planted damage, literal-codepoint signature class
        -- (compiled by RE2 here, Java regex on the Spark side), and
        -- ppm IntegralDivide with the same null-to-zero fold
        WITH d AS (
          SELECT doc_id,
                 text
                   || (CASE WHEN doc_id % 5 = 0
                            THEN ' Ã©â€™' ELSE '' END)
                   || (CASE WHEN doc_id % 11 = 0
                            THEN ' �' ELSE '' END) AS text
          FROM documents
        ), c AS (
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(regexp_extract_all(text, '{MOJIBAKE_RE}'))
                   AS BIGINT) AS n_double_encoded,
                 CAST(len(regexp_extract_all(text, '�'))
                   AS BIGINT) AS n_replacement
          FROM d
        )
        SELECT doc_id, n_chars, n_double_encoded, n_replacement,
               CAST(coalesce(
                 ((n_double_encoded + n_replacement) * 1000000)
                   // nullif(n_chars, 0), 0) AS BIGINT) AS mojibake_ppm
        FROM c
    """


@contract(
    oracle=_mojibake_oracle,
    plan=(
        "encoding-damage score: ONE whole-stage-codegen projection (two regexp_counts "
        "+ length + IntegralDivide) fused into the scan; zero shuffle, zero Python, no "
        "join, no window"
    ),
    must=["Project"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Exchange", "Join", "Window",
              "HashAggregate"],
)
def q_mojibake(spark, sf_dir):
    """Encoding-damage score (ops/encoding.mojibake_score): double-encoded
    UTF-8 signatures + U+FFFD counts per doc, ppm of chars.  The synthetic
    corpus is clean, so the query plants deterministic damage first
    (doc_id%5==0 gets a 'Ã©â€™' suffix, doc_id%11==0 a replacement char) —
    the oracle plants the identical damage.  ONE codegen projection,
    zero shuffle, zero Python."""
    from html_parser_spark.ops.encoding import mojibake_score

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" Ã©â€™")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" �")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return mojibake_score(docs)


@contract(
    oracle="""
        -- identical per-doc 60-bit md5 hash (Spark conv(..,16,10) ≡
        -- '0x' CAST), bit_xor and HUGEINT-summed mod 2^61-1 digests
        WITH d AS (
          SELECT doc_id % 7 AS shard,
                 CAST(length(text) AS BIGINT) AS n,
                 CAST('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR) || chr(31) || text),
                   1, 15) AS BIGINT) AS h
          FROM documents
        )
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_chars,
               CAST(bit_xor(h) AS BIGINT) AS xor_digest,
               CAST(sum(h) % 2305843009213693951 AS BIGINT)
                 AS sum_digest
        FROM d GROUP BY shard
    """,
    plan=(
        "release-integrity manifest: ONE partial-agg groupBy(shard) whose exchange "
        "carries ≤|shards| rows after map-side combine (count/sum/bit_xor all "
        "combine); digests are order-insensitive so the result is "
        "partition-independent; zero Python, no join, no window"
    ),
    must=["HashAggregate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_shard_manifest(spark, sf_dir):
    """Release-integrity manifest (ops/corpus.shard_manifest): per-shard
    row counts, char totals, and the two order-insensitive content
    digests (bit_xor + DECIMAL-summed mod 2^61-1) a data release ships
    for shard-for-shard reproducibility checks.  Shards carved
    deterministically by doc_id mod 7.  ONE partial-agg groupBy(shard)
    — the exchange carries ≤7 rows after map-side combine; zero Python,
    no join, no window."""
    from html_parser_spark.ops.corpus import shard_manifest

    docs = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 7).alias("shard"), "text"
    )
    return shard_manifest(docs)


@contract(
    oracle="""
        -- identical tokenization, histogram cumulative, and the
        -- cross-multiplied covering test (no division anywhere)
        WITH d AS (
          SELECT lang,
                 len(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   x -> len(x) > 0)) AS v
          FROM documents
        ), h AS (
          SELECT lang, v, count(*) AS n FROM d GROUP BY lang, v
        ), c AS (
          SELECT lang, v,
                 sum(n) OVER (PARTITION BY lang ORDER BY v) AS n_le,
                 sum(n) OVER (PARTITION BY lang) AS total
          FROM h
        ), q AS (
          SELECT unnest([250000, 500000, 900000, 990000]) AS q_ppm
        ), cov AS (
          SELECT c.lang, q.q_ppm, c.v, c.n_le, c.total
          FROM c, q
          WHERE c.n_le * 1000000 >= q.q_ppm * c.total
        ), best AS (
          SELECT lang, q_ppm, min(v) AS value
          FROM cov GROUP BY lang, q_ppm
        )
        SELECT b.lang,
               CAST(b.q_ppm AS BIGINT) AS q_ppm,
               CAST(b.value AS BIGINT) AS value,
               CAST(c.n_le AS BIGINT) AS n_le,
               CAST(c.total AS BIGINT) AS total
        FROM best b JOIN c ON b.lang = c.lang AND b.value = c.v
    """,
    plan=(
        "exact type-1 quantiles: ONE corpus-sized partial-agg groupBy(lang, v) "
        "histogram (exchange bounded by distinct values per group); the cumulative "
        "window partitions by lang over that bounded histogram — never over documents, "
        "never SinglePartition; |qs|-row fan-out + bounded min-struct groupBy; zero "
        "Python"
    ),
    must=["HashAggregate", "Window", "hashpartitioning(lang"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "SinglePartition",
              "CartesianProduct"],
)
def q_exact_quantiles(spark, sf_dir):
    """Exact type-1 per-lang token-count quantiles (ops/corpus.
    exact_quantiles): smallest value covering q·N, cross-multiplied
    integer test (no division) — the engine-portable percentile_approx
    replacement.  ONE partial-agg groupBy(lang, v) histogram (exchange
    bounded by distinct token counts), cumulative window over the
    bounded histogram (never over documents), |qs|-row fan-out, bounded
    min-struct groupBy."""
    from html_parser_spark.ops.corpus import exact_quantiles

    docs = _docs(spark, sf_dir).select(
        "lang",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).cast("long").alias("n_tokens"),
    )
    return exact_quantiles(
        docs, "n_tokens", (250_000, 500_000, 900_000, 990_000),
        group_col="lang",
    )


def _trustrank_oracle_sql(iterations: int = 3) -> str:
    """Unrolled-CTE replica of ops/linkgraph.trustrank_fixed_point over the
    shared synthetic graph with seeds h0,h7,…,h35: the pagerank chain with
    N replaced by the seed count m and the teleport base + dangling
    redistribution gated to seed rows.  All-BIGINT ``//`` floor division on
    non-negative operands — bit-exact regardless of shuffle order."""
    S, num, den = 10**12, 85, 100
    seed_values = ", ".join(f"('h{i}')" for i in range(0, 40, 7))
    parts = [f"""e0 AS (
  SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
), edges AS (
  SELECT 'h' || s AS src, 'h' || t AS dst, CAST(COUNT(*) AS BIGINT) AS weight
  FROM e0 WHERE s <> t GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), seeds AS (SELECT * FROM (VALUES {seed_values}) sv(node)
), sn AS (
  SELECT n.node FROM nodes n JOIN seeds s ON s.node = n.node
), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sn
), flagged AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS seed
  FROM nodes n LEFT JOIN sn s ON s.node = n.node
), outw AS (
  SELECT src, CAST(SUM(weight) AS BIGINT) AS w_out FROM edges GROUP BY src
), r0 AS (
  SELECT node, seed,
         CAST(CASE WHEN seed = 1 THEN {S} // m ELSE 0 END AS BIGINT) AS rank
  FROM flagged, mm
)"""]
    for k in range(iterations):
        parts.append(f""", d{k} AS (
  SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
  FROM r{k} WHERE node NOT IN (SELECT src FROM outw)
), c{k} AS (
  SELECT e.dst AS node,
         CAST(SUM((r.rank * e.weight) // o.w_out) AS BIGINT) AS in_sum
  FROM edges e
  JOIN r{k} r ON r.node = e.src
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
), r{k + 1} AS (
  SELECT f.node, f.seed,
         CAST(CASE WHEN f.seed = 1
                   THEN ({den - num} * {S}) // ({den} * mm.m) ELSE 0 END
              + ({num} * (COALESCE(c.in_sum, 0)
                          + f.seed * (d{k}.dang // mm.m))) // {den}
              AS BIGINT) AS rank
  FROM flagged f LEFT JOIN c{k} c ON c.node = f.node, mm, d{k}
)""")
    return "WITH " + "".join(parts) + f"\nSELECT node, rank FROM r{iterations}"


@contract(
    oracle=_trustrank_oracle_sql(3),
    plan=(
        "seeded propagation: per-iteration edge⋈rank equi-join + groupBy(dst) partials "
        "exactly like q_pagerank; the seed flag is ONE broadcast-sized semi-join at "
        "init and the 1-row dangling aggregate rides an explicit broadcast, never a "
        "cross join over nodes; zero Python, no window"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
    plan_kwargs={"checkpoint": False},
)
def q_trustrank(spark, sf_dir, checkpoint=True):
    """TrustRank (Gyöngyi et al., VLDB 2004) in fixed-point integer
    arithmetic (ops/linkgraph.trustrank_fixed_point) over the shared
    synthetic 45-host graph: teleport + dangling mass flow ONLY to the 6
    seed hosts h0,h7,…,h35, so hosts unreachable from the seeds score
    exactly 0 (spam demotion).  Same bit-exact integer discipline as
    q_pagerank — the DuckDB oracle's unrolled seed-gated CTEs hash-match
    EXACTLY."""
    docs = _docs(spark, sf_dir)
    from html_parser_spark.ops.linkgraph import trustrank_fixed_point

    edges = _synth_host_edges(docs)
    seeds = spark.createDataFrame(
        [(f"h{i}",) for i in range(0, 40, 7)], ["node"]
    )
    return trustrank_fixed_point(
        edges, seeds, iterations=3, checkpoint=checkpoint
    ).select("node", F.col("rank").cast("long").alias("rank"))


def _seed_distance_oracle_sql(max_hops: int = 3) -> str:
    """Unrolled-CTE replica of ops/linkgraph.seed_distance over the shared
    synthetic graph with the TrustRank seed list: per-hop frontier CTEs
    (successors of the previous frontier, minus everything already
    settled).  Integer hop labels — exact across engines."""
    seed_values = ", ".join(f"('h{i}')" for i in range(0, 40, 7))
    parts = [f"""e0 AS (
  SELECT doc_id % 40 AS s, (doc_id * 7 + 3) % 40 AS t FROM documents
  UNION ALL
  SELECT doc_id % 40, (doc_id * 13 + 11) % 45 FROM documents
), edges AS (
  SELECT DISTINCT 'h' || s AS src, 'h' || t AS dst FROM e0 WHERE s <> t
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), seeds AS (SELECT * FROM (VALUES {seed_values}) sv(node)
), d0 AS (
  SELECT n.node, CAST(0 AS INTEGER) AS dist
  FROM nodes n JOIN seeds s ON s.node = n.node
), f0 AS (SELECT node FROM d0)"""]
    for h in range(1, max_hops + 1):
        parts.append(f""", f{h} AS (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN f{h - 1} f ON f.node = e.src
  WHERE e.dst NOT IN (SELECT node FROM d{h - 1})
), d{h} AS (
  SELECT node, dist FROM d{h - 1}
  UNION ALL SELECT node, CAST({h} AS INTEGER) FROM f{h}
)""")
    return "WITH " + "".join(parts) + f"\nSELECT node, dist FROM d{max_hops}"


@contract(
    oracle=_seed_distance_oracle_sql(3),
    plan=(
        "seed BFS: per-hop frontier⋈edges equi-join + partial-agg distinct + left-anti "
        "against the settled set; the frontier (not hosts×edges) bounds every hop's "
        "shuffle; zero Python, no window, no cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
    plan_kwargs={"checkpoint": False},
)
def q_click_depth(spark, sf_dir, checkpoint=True):
    """Seed click-depth BFS (ops/linkgraph.seed_distance) over the shared
    synthetic 45-host graph with the TrustRank seed list (h0,h7,...,h35):
    exact minimum hop distance from any seed, frontier-only relaxation
    (hop h joins only the hosts first reached at h-1 against the edge
    list, never the settled set).  Hosts beyond max_hops are absent —
    at corpus scale the unreachable set is the majority and
    materializing "infinity" rows would be the expensive way to spell a
    filter.  The DuckDB oracle unrolls the same BFS as per-hop CTEs
    (frontier = successors of the previous frontier minus everything
    settled); integer hop labels make the hash match exact across
    engines."""
    docs = _docs(spark, sf_dir)
    from html_parser_spark.ops.linkgraph import seed_distance

    edges = _synth_host_edges(docs)
    seeds = spark.createDataFrame(
        [(f"h{i}",) for i in range(0, 40, 7)], ["node"]
    )
    return seed_distance(edges, seeds, max_hops=3, checkpoint=checkpoint)


@contract(
    oracle=r"""
        WITH syn AS (
          SELECT
            'https://s' || (doc_id % 10) || '.example.com' ||
              CASE WHEN doc_id % 3 = 0
                   THEN '/' || (doc_id % 5 + 2005) || '/' ||
                        lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '/' ||
                        lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
                        '/p' || doc_id
                   ELSE '/p' || doc_id END AS url,
            '<html><head>' ||
              CASE WHEN doc_id % 4 = 0 THEN
                     '<meta property="article:published_time" content="' ||
                     CASE WHEN doc_id % 10 = 0 THEN '2023-02-30'
                          ELSE (doc_id % 9 + 2015) || '-' ||
                               lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
                               '-' ||
                               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END ||
                     'T08:30:00Z">'
                   WHEN doc_id % 4 = 1 AND doc_id % 8 = 1 THEN
                     '<meta property="article:published_time" content="1999-12-31T00:00:00Z">'
                   ELSE '' END ||
            '</head><body>' ||
              CASE WHEN doc_id % 4 = 1 THEN
                     '<time datetime="' ||
                     (doc_id % 9 + 2015) || '-' ||
                     lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
                     '">then</time>'
                   WHEN doc_id % 4 = 2 THEN
                     '<script type="application/ld+json">{"@type":"Article","datePublished": "' ||
                     CASE WHEN doc_id % 7 = 0 THEN '2023-13-05'
                          ELSE (doc_id % 9 + 2015) || '-' ||
                               lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
                               '-' ||
                               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END ||
                     '"}</script>'
                   ELSE '<p>plain</p>' END ||
            '</body></html>' AS html
          FROM documents
        ), hits AS (
          SELECT url,
            regexp_extract(html,
              '<meta[^>]*property="article:published_time"[^>]*content="((?:19|20)\d\d-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]))', 1) AS m_meta,
            regexp_extract(html,
              '<time[^>]*datetime="((?:19|20)\d\d-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]))', 1) AS m_time,
            regexp_extract(html,
              '"datePublished"\s*:\s*"((?:19|20)\d\d-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]))', 1) AS m_jsonld,
            regexp_extract(url,
              '/((?:19|20)\d\d)/(0[1-9]|1[0-2])/(0[1-9]|[12]\d|3[01])(?:/|$)', 1) AS g1,
            regexp_extract(url,
              '/((?:19|20)\d\d)/(0[1-9]|1[0-2])/(0[1-9]|[12]\d|3[01])(?:/|$)', 2) AS g2,
            regexp_extract(url,
              '/((?:19|20)\d\d)/(0[1-9]|1[0-2])/(0[1-9]|[12]\d|3[01])(?:/|$)', 3) AS g3
          FROM syn
        ), chain AS (
          SELECT url,
            CASE WHEN m_meta <> '' THEN m_meta
                 WHEN m_time <> '' THEN m_time
                 WHEN m_jsonld <> '' THEN m_jsonld
                 WHEN g1 <> '' THEN g1 || '-' || g2 || '-' || g3 END AS raw,
            CASE WHEN m_meta <> '' THEN 'meta'
                 WHEN m_time <> '' THEN 'time'
                 WHEN m_jsonld <> '' THEN 'jsonld'
                 WHEN g1 <> '' THEN 'url'
                 ELSE 'none' END AS pub_src
          FROM hits
        )
        SELECT url, strftime(TRY_CAST(raw AS DATE), '%Y-%m-%d') AS pub_date, pub_src
        FROM chain
    """,
    plan=(
        "publication-date extraction: the whole regexp priority chain is ONE "
        "pure-codegen projection over the page scan — zero shuffle, zero Python, no "
        "join, no window"
    ),
    must=["*("],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_pub_dates(spark, sf_dir):
    """Publication-date extraction (ops/web.publication_dates): the
    regexp priority chain meta > time > jsonld > url-path over pages
    synthesized from doc_id arithmetic.  Pins, one per failure mode:
    doc_id%8==1 pages carry BOTH a meta tag and a time tag (meta must
    win); doc_id%4==0 && %10==0 pages carry a regex-valid but
    calendar-invalid meta date (2023-02-30 — pub_src says 'meta', date
    is NULL, and Spark's to_date must agree with DuckDB's TRY_CAST);
    doc_id%4==2 && %7==0 pages carry a month-13 jsonld date the shape
    regex itself rejects (falls through to the url rule);  doc_id%3==0
    urls embed a /YYYY/MM/DD/ permalink with a DIFFERENT year so the
    priority order is observable.  The oracle rebuilds the identical
    html+url in SQL and replays the same four regexes through DuckDB's
    RE2 — a hash match is a cross-engine regex-semantics equality
    proof."""
    from html_parser_spark.ops.web import publication_dates

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    did = d.cast("string")
    mm = F.lpad((d % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((d % 28 + 1).cast("string"), 2, "0")
    iso = F.concat((d % 9 + 2015).cast("string"), F.lit("-"), mm,
                   F.lit("-"), dd)
    meta_iso = F.when(d % 10 == 0, F.lit("2023-02-30")).otherwise(iso)
    meta_tag = F.concat(
        F.lit('<meta property="article:published_time" content="'),
        meta_iso, F.lit('T08:30:00Z">'),
    )
    k = d % 4
    html = F.concat(
        F.lit("<html><head>"),
        F.when(k == 0, meta_tag)
        .when((k == 1) & (d % 8 == 1),
              F.lit('<meta property="article:published_time" '
                    'content="1999-12-31T00:00:00Z">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(k == 1, F.concat(F.lit('<time datetime="'), iso,
                                F.lit('">then</time>')))
        .when(k == 2, F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@type":"Article","datePublished": "'),
            F.when(d % 7 == 0, F.lit("2023-13-05")).otherwise(iso),
            F.lit('"}</script>'),
        ))
        .otherwise(F.lit("<p>plain</p>")),
        F.lit("</body></html>"),
    )
    upath = F.when(
        d % 3 == 0,
        F.concat(F.lit("/"), (d % 5 + 2005).cast("string"), F.lit("/"), mm,
                 F.lit("/"), dd, F.lit("/p"), did),
    ).otherwise(F.concat(F.lit("/p"), did))
    url = F.concat(
        F.lit("https://s"), (d % 10).cast("string"), F.lit(".example.com"),
        upath,
    )
    pages = docs.select(
        url.alias("url"), F.encode(html, "UTF-8").alias("html")
    )
    return publication_dates(pages)


@contract(
    oracle=r"""
        WITH t AS (
          SELECT 'h' || (doc_id % 37) AS k,
                 CAST(length(text) AS BIGINT) *
                 (CASE WHEN doc_id % 37 = 0 THEN 64 ELSE doc_id % 13 + 1 END) AS sz
          FROM documents
        ), totals AS (
          SELECT k, CAST(SUM(sz) AS BIGINT) AS total FROM t GROUP BY k
          HAVING SUM(sz) > 0
        ), b AS (
          SELECT CAST(length(regexp_replace(bin(total), '^0+', '')) AS INTEGER)
                   AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(total) AS BIGINT) AS bucket_total
          FROM totals GROUP BY 1
        ), c AS (
          SELECT bucket, n_keys, bucket_total,
                 CAST(SUM(n_keys) OVER (ORDER BY bucket DESC) AS BIGINT)
                   AS cum_keys,
                 CAST(SUM(bucket_total) OVER (ORDER BY bucket DESC) AS BIGINT)
                   AS cum_total
          FROM b
        ), g AS (
          SELECT CAST(SUM(n_keys) AS BIGINT) AS gk,
                 CAST(SUM(bucket_total) AS BIGINT) AS gt
          FROM b
        )
        SELECT bucket, n_keys, bucket_total, cum_keys, cum_total,
               CAST((cum_keys * 1000000) // gk AS BIGINT) AS cum_keys_ppm,
               CAST((cum_total * 1000000) // gt AS BIGINT) AS cum_total_ppm
        FROM c, g
    """,
    plan=(
        "magnitude-bucket Lorenz profile: per-key totals with map-side partials, "
        "second groupBy bounded by <=63 bit-length buckets, cumulative window + 1-row "
        "broadcast grand totals over that bounded histogram (the SinglePartition "
        "window is over <=63 rows by construction — same class as pack_shards' P-row "
        "offsets); zero Python, no cartesian product over data"
    ),
    must=["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "SortMergeJoin"],
)
def q_concentration(spark, sf_dir):
    """Corpus byte-concentration profile (ops/corpus.concentration_profile)
    over a synthetic skewed host layout: per-host byte totals bucket by
    integer bit-length (log2 magnitude), cumulative-from-the-top shares in
    exact ppm — the "top hosts hold X% of the bytes" release-audit table
    without a global host sort.  Host h0 carries a 64x weight multiplier
    so multiple magnitude buckets are occupied.  All-integer arithmetic
    (length(bin(x)) both engines, IntegralDivide ppm) — hash-exact."""
    from html_parser_spark.ops.corpus import concentration_profile

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    sized = docs.select(
        F.concat(F.lit("h"), (d % 37).cast("string")).alias("host"),
        (
            F.length("text").cast("long")
            * F.when(d % 37 == 0, F.lit(64)).otherwise(d % 13 + 1)
        ).alias("n_bytes"),
    )
    return concentration_profile(sized, "host", "n_bytes")


@contract(
    oracle=r"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || chr(10) || 'import os' || chr(10) ||
                           '    x = 1;' || chr(10) || 'call();' || chr(10) ||
                           chr(10) || 'plain words here'
                      ELSE text END AS t
          FROM documents
        ), l AS (
          SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM aug
        ), nb AS (
          SELECT doc_id, line FROM l WHERE trim(line) <> ''
        ), agg AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(COUNT(*) FILTER (WHERE
                      regexp_matches(line, '[;{}]\s*$')
                   OR regexp_matches(line, '^(	|    )')
                   OR regexp_matches(line,
                      '^\s*(def |class |function |#include|import |from |return |var |const |let |public |private |for \(|while \(|if \()')
                 ) AS BIGINT) AS code_lines
          FROM nb GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n_lines, 0) AS n_lines,
               COALESCE(a.code_lines, 0) AS code_lines,
               CAST(CASE WHEN COALESCE(a.n_lines, 0) > 0
                         THEN (a.code_lines * 1000000) // a.n_lines
                         ELSE 0 END AS BIGINT) AS code_ppm
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """,
    plan=(
        "code-vs-prose routing: split + two higher-order array filters + integer ppm, "
        "ONE pure-codegen projection over the scan — zero shuffle, zero Python, no "
        "join, no window"
    ),
    must=["*("],
    must_not=["Exchange", "ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_code_profile(spark, sf_dir):
    """Code-vs-prose routing profile (ops/text.code_profile): per-doc
    non-blank line count, code-line count (terminator / indentation /
    declaration-keyword signals), exact integer code_ppm.  doc_id%3==0
    docs get a 4-line code block (plus a blank line that must NOT count)
    appended so both classes are populated; the oracle replays the three
    detector regexes verbatim through DuckDB's RE2 over the identically
    augmented text — a hash match proves the line split, blank-line
    rule, and regex semantics agree across engines."""
    from html_parser_spark.ops.text import code_profile

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    code_block = (
        "\nimport os\n    x = 1;\ncall();\n\nplain words here"
    )
    aug = docs.select(
        "doc_id",
        F.when(d % 3 == 0, F.concat(F.col("text"), F.lit(code_block)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return code_profile(aug)


@contract(
    oracle="""
        SELECT doc_id, TRUE AS ok FROM documents
    """,
    plan=(
        "tokenizer decode QA: ONE MapInArrow encode stage, pure-codegen decode (two "
        "replaces), ONE doc_id equi-join for the identity check; no window, no "
        "cartesian product"
    ),
    must=["MapInArrow", "Join"],
    must_not=["CartesianProduct", "Window", "BatchEvalPython"],
)
def q_bpe_roundtrip(spark, sf_dir):
    """Tokenizer release-QA (ops/bpe.bpe_decode + bpe_roundtrip_check):
    decode∘encode identity over the whole corpus.  Encode splits on
    whitespace, lowercases, and marks word ends with </w>, so decode is
    closed-form (drop inter-token spaces, </w> → space, trim) and MUST
    reconstruct the whitespace-normalized lowercased source exactly.
    The oracle states the identity property itself (every doc_id, ok =
    TRUE): a Spark-side decode defect (dropped marker, wrong join order,
    symbol damage) emits false rows and hash-mismatches."""
    from html_parser_spark.ops.bpe import bpe_encode, bpe_roundtrip_check

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace("text", "‖", "").alias("text")
    )
    return bpe_roundtrip_check(docs, bpe_encode(docs, _bpe_seed_merges()))


@contract(
    oracle=r"""
        WITH u AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000,
                 replace(text, ' ', '---') || ' ...!!!'
          FROM documents
        ), k AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS h
          FROM u
        )
        SELECT h, CAST(COUNT(*) AS BIGINT) AS dup_count,
               MIN(doc_id) AS canonical_id
        FROM k GROUP BY h
    """,
    plan=(
        "normalized exact dedup: the 32-byte md5 key is a pure-codegen projection "
        "(lower + strip-all before the shuffle), ONE groupBy(h) with map-side partial "
        "aggregation, min-id survivor election; zero Python, no join, no window"
    ),
    must=["HashAggregate", "Exchange hashpartitioning(h"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_norm_dedup(spark, sf_dir):
    """Normalized exact dedup (ops/dedup.normalized_duplicates): the
    RefinedWeb/CCNet tier between byte-identical and MinHash — lowercase
    + strip-all-non-alphanumerics + md5, so re-punctuated / re-flowed
    syndication copies collapse.  Each doc gets a mangled twin at
    doc_id+10000 (spaces → '---', trailing ' ...!!!') that must land in
    the SAME group with the original as min-id canonical; the oracle
    rebuilds the twins and the identical normalization chain in SQL."""
    from html_parser_spark.ops.dedup import normalized_duplicates

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    twins = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(
            F.regexp_replace("text", " ", "---"), F.lit(" ...!!!")
        ).alias("text"),
    )
    return normalized_duplicates(docs.unionByName(twins))


@contract(
    oracle=r"""
        WITH labeled AS (
          SELECT doc_id AS _a, doc_id + 300 AS _b FROM documents WHERE doc_id < 200
        ), pred AS (
          SELECT DISTINCT LEAST(a, b) AS _a, GREATEST(a, b) AS _b FROM (
            SELECT doc_id + 300 AS a, doc_id AS b FROM documents
            WHERE doc_id < 200 AND doc_id % 5 <> 0
            UNION ALL
            SELECT doc_id + 300, doc_id FROM documents
            WHERE doc_id < 200 AND doc_id % 5 <> 0 AND doc_id % 11 = 0
            UNION ALL
            SELECT doc_id, doc_id + 301 FROM documents
            WHERE doc_id < 200 AND doc_id % 7 = 0
          ) t WHERE a <> b
        ), tp AS (
          SELECT COUNT(*) AS tp FROM pred p JOIN labeled l
            ON p._a = l._a AND p._b = l._b
        ), c AS (
          SELECT CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred,
                 CAST((SELECT COUNT(*) FROM labeled) AS BIGINT) AS n_labeled,
                 CAST((SELECT tp FROM tp) AS BIGINT) AS tp
        )
        SELECT n_pred, n_labeled, tp,
               CAST(CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred
                         ELSE 0 END AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN n_labeled > 0 THEN (tp * 1000000) // n_labeled
                         ELSE 0 END AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN n_pred + n_labeled > 0
                         THEN (2 * tp * 1000000) // (n_pred + n_labeled)
                         ELSE 0 END AS BIGINT) AS f1_ppm
        FROM c
    """,
    plan=(
        "dedup-QA pair P/R: canonicalize + distinct on both (small) pair tables, ONE "
        "pair equi-join, three 1-row counts stitched by broadcast cross joins (1-row "
        "sides only); zero Python, no window"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window"],
)
def q_dedup_prf(spark, sf_dir):
    """Dedup-QA pair precision/recall (ops/dedup.dedup_prf) over
    arithmetically labeled pairs: labels = (i, i+300) for i<200;
    predictions drop every i%5==0 (misses), arrive REVERSED (orientation
    canonicalization pinned), are emitted twice for i%11==0 (distinct
    pinned), and add false pairs (i, i+301) for i%7==0 plus a self-pair
    (7,7) that must be filtered.  One row of exact ppm metrics; the
    oracle replays the same arithmetic and the multiset-Dice f1."""
    from html_parser_spark.ops.dedup import dedup_prf

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    labeled = docs.filter(d < 200).select(
        d.alias("a"), (d + 300).alias("b")
    )
    hits = docs.filter((d < 200) & (d % 5 != 0)).select(
        (d + 300).alias("a"), d.alias("b")
    )
    dups = docs.filter((d < 200) & (d % 5 != 0) & (d % 11 == 0)).select(
        (d + 300).alias("a"), d.alias("b")
    )
    fps = docs.filter((d < 200) & (d % 7 == 0)).select(
        d.alias("a"), (d + 301).alias("b")
    )
    selfp = docs.filter(d == 7).select(d.alias("a"), d.alias("b"))
    predicted = hits.unionByName(dups).unionByName(fps).unionByName(selfp)
    return dedup_prf(predicted, labeled)


def _boiler_docs(spark, sf_dir):
    """Shared synthesis for q_frequent_lines / q_strip_lines: every doc
    gains a web-wide footer (all 20 hosts), even doc_ids a CMS credit
    (10 hosts), host h3 a single-host notice (below min_hosts — must NOT
    be mined).  ONE builder so the two queries and their oracles can
    never desynchronize."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.lit("\nCopyright 2024 Example"),
        F.when(d % 2 == 0, F.lit("\nPowered by ExampleCMS")).otherwise(
            F.lit("")
        ),
        F.when(d % 20 == 3, F.lit("\nRare site notice")).otherwise(
            F.lit("")
        ),
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("h"), (d % 20).cast("string")).alias("host"),
        t.alias("text"),
    )


_BOILER_AUG_CTE = """
aug AS (
  SELECT doc_id, 'h' || (doc_id % 20) AS host,
         text || chr(10) || 'Copyright 2024 Example' ||
         CASE WHEN doc_id % 2 = 0
              THEN chr(10) || 'Powered by ExampleCMS' ELSE '' END ||
         CASE WHEN doc_id % 20 = 3
              THEN chr(10) || 'Rare site notice' ELSE '' END AS t
  FROM documents
), hl AS (
  SELECT DISTINCT host, trim(line) AS line FROM (
    SELECT host, unnest(string_split(t, chr(10))) AS line FROM aug
  ) q WHERE trim(line) <> ''
), bl AS (
  SELECT line, CAST(COUNT(*) AS BIGINT) AS n_hosts
  FROM hl GROUP BY line HAVING COUNT(*) >= 3
)"""


@contract(
    oracle=f"WITH {_BOILER_AUG_CTE}\nSELECT line, n_hosts FROM bl",
    plan=(
        "global boilerplate mining: explode + trim projection, (host, line) distinct "
        "with map-side partials BEFORE the host-count groupBy (a mega-host votes "
        "once); zero Python, no join, no window"
    ),
    must=["HashAggregate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Join", "Window",
              "CartesianProduct"],
)
def q_frequent_lines(spark, sf_dir):
    """Global boilerplate-line mining (ops/corpus.frequent_lines): lines
    repeated across >= 3 DISTINCT hosts — the cross-host complement of
    host_line_dedup and the CCNet-style global blocklist dictionary.
    The (host, line) distinct runs BEFORE counting so a mega-host can't
    vote a line in alone; the single-host 'Rare site notice' plant must
    stay out.  The oracle replays explode/trim/distinct/count verbatim."""
    from html_parser_spark.ops.corpus import frequent_lines

    return frequent_lines(_boiler_docs(spark, sf_dir), min_hosts=3)


@contract(
    oracle=f"""
        WITH {_BOILER_AUG_CTE}, bll AS (
          SELECT list(line) AS arr FROM bl
        )
        SELECT a.doc_id,
               array_to_string(
                 list_filter(string_split(a.t, chr(10)),
                             x -> NOT list_contains(bll.arr, trim(x))),
                 chr(10)) AS text
        FROM aug a, bll
    """,
    plan=(
        "blocklist application: posexplode, ONE left-anti join against the BROADCAST "
        "blocklist, groupBy (doc_id) reassembly via sort_array over per-doc structs "
        "(never a corpus-wide window); zero Python"
    ),
    must=["BroadcastHashJoin", "LeftAnti", "HashAggregate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct",
              "SortMergeJoin"],
)
def q_strip_lines(spark, sf_dir):
    """Blocklist application (ops/corpus.strip_frequent_lines): mine the
    >= 3-host lines, then strip them from every doc preserving order and
    the raw (untrimmed) form of survivors.  The oracle mines the same
    blocklist symbolically and filters the line arrays in DuckDB — a
    hash match proves the mine+strip composition end-to-end (including
    that the single-host plant survives on host h3's pages)."""
    from html_parser_spark.ops.corpus import (
        frequent_lines,
        strip_frequent_lines,
    )

    aug = _boiler_docs(spark, sf_dir)
    bl = frequent_lines(aug, min_hosts=3)
    return strip_frequent_lines(aug, bl)


@contract(
    oracle="""
        WITH e0 AS (
          SELECT 'u' || doc_id AS src, 'u' || (doc_id + 1) AS dst
          FROM documents WHERE doc_id % 4 < 3
          UNION ALL SELECT 'x0', 'x1' FROM documents WHERE doc_id = 0
          UNION ALL SELECT 'x1', 'x0' FROM documents WHERE doc_id = 1
          UNION ALL SELECT 'u0', 'u9' FROM documents WHERE doc_id = 2
        ), m AS (
          SELECT src, MIN(dst) AS dst FROM e0 GROUP BY src
        ), s1 AS (
          SELECT src AS url, dst AS cur, 1 AS hops FROM m
        ), s2 AS (
          SELECT s.url, COALESCE(m.dst, s.cur) AS cur,
                 s.hops + CASE WHEN m.dst IS NULL THEN 0 ELSE 1 END AS hops
          FROM s1 s LEFT JOIN m ON m.src = s.cur
        ), s3 AS (
          SELECT s.url, COALESCE(m.dst, s.cur) AS cur,
                 s.hops + CASE WHEN m.dst IS NULL THEN 0 ELSE 1 END AS hops
          FROM s2 s LEFT JOIN m ON m.src = s.cur
        ), s4 AS (
          SELECT s.url, COALESCE(m.dst, s.cur) AS cur,
                 s.hops + CASE WHEN m.dst IS NULL THEN 0 ELSE 1 END AS hops
          FROM s3 s LEFT JOIN m ON m.src = s.cur
        ), s5 AS (
          SELECT s.url, COALESCE(m.dst, s.cur) AS cur,
                 s.hops + CASE WHEN m.dst IS NULL THEN 0 ELSE 1 END AS hops
          FROM s4 s LEFT JOIN m ON m.src = s.cur
        )
        SELECT s.url AS src, s.cur AS final_url, CAST(s.hops AS INTEGER) AS hops,
               s.cur NOT IN (SELECT src FROM m) AS resolved
        FROM s5 s
    """,
    plan=(
        "redirect resolution: groupBy-min next-hop map, per-hop state⋈map equi-join "
        "(state = one row per redirecting source, never per page), lineage truncated "
        "per hop; zero Python, no window, no cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_redirects(spark, sf_dir):
    """Redirect-chain resolution (ops/web.resolve_redirects): 4-hop
    synthetic chains u(4k)->u(4k+1)->u(4k+2)->u(4k+3) from doc_id
    arithmetic, a planted 2-cycle x0<->x1 that must report
    resolved=false at the hop cap, and a duplicate-capture edge
    (u0 -> u9 next to u0 -> u1) pinning the deterministic min-dst
    election.  The oracle unrolls the same per-hop LEFT joins —
    hash-exact."""
    from html_parser_spark.ops.web import resolve_redirects

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    did = d.cast("string")
    chain = docs.filter(d % 4 < 3).select(
        F.concat(F.lit("u"), did).alias("src"),
        F.concat(F.lit("u"), (d + 1).cast("string")).alias("dst"),
    )
    spec = (
        docs.filter(d == 0)
        .select(F.lit("x0").alias("src"), F.lit("x1").alias("dst"))
        .unionByName(
            docs.filter(d == 1).select(
                F.lit("x1").alias("src"), F.lit("x0").alias("dst")
            )
        )
        .unionByName(
            docs.filter(d == 2).select(
                F.lit("u0").alias("src"), F.lit("u9").alias("dst")
            )
        )
    )
    return resolve_redirects(chain.unionByName(spec), max_hops=5)


@contract(
    oracle="""
        -- re-derive the capture stream from the same doc_id arithmetic
        -- (the even-doc duplicate birth capture is subsumed by DISTINCT,
        -- exactly as in the Spark op), then cohort counts + integral-
        -- divide survival ppm.
        WITH caps AS (
          SELECT DISTINCT
                 'https://h' || CAST(doc_id % 7 AS VARCHAR) ||
                   '.com/p' || CAST(doc_id AS VARCHAR) AS url,
                 CAST(s AS BIGINT) AS snap
          FROM documents,
               unnest(generate_series(doc_id % 3,
                                      doc_id % 3 + doc_id % 4)) AS t(s)
        ), birth AS (
          SELECT url, min(snap) AS birth_snap FROM caps GROUP BY 1
        ), aged AS (
          SELECT b.birth_snap, c.snap - b.birth_snap AS age
          FROM caps c JOIN birth b ON c.url = b.url
        ), counts AS (
          SELECT birth_snap, age, CAST(count(*) AS BIGINT) AS n_urls
          FROM aged GROUP BY 1, 2
        ), cohort AS (
          SELECT birth_snap AS _b, n_urls AS _size
          FROM counts WHERE age = 0
        )
        SELECT birth_snap, age, n_urls,
               CAST(n_urls * 1000000 // _size AS BIGINT) AS survival_ppm
        FROM counts JOIN cohort ON birth_snap = _b
    """,
    plan=(
        "survival cohorts: ONE wide shuffle (the per-url min birth groupBy, map-side "
        "partials), birth join back on the same url key, tiny cohort aggregate joined "
        "BROADCAST; zero Python, no window over the capture stream, no full-table self "
        "cartesian"
    ),
    must=["HashAggregate", "BroadcastHashJoin"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_url_survival(spark, sf_dir):
    """URL survival by birth cohort (ops/web.url_survival): each doc's url
    is born at snap doc_id%3 and lives doc_id%4 extra snapshots (explode of
    sequence(birth, birth+span)); even docs carry a duplicate birth-snap
    capture to pin the DISTINCT.  The oracle re-derives the cohort table
    from the same arithmetic via generate_series — hash-exact, including
    the integral-divide survival_ppm."""
    from html_parser_spark.ops.web import url_survival

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                   F.lit(".com/p"), d.cast("string"))
    birth = (d % 3).cast("long")
    span = (d % 4).cast("long")
    caps = docs.select(
        url.alias("url"), F.explode(F.sequence(birth, birth + span)).alias("snap")
    )
    dup = docs.filter(d % 2 == 0).select(url.alias("url"), birth.alias("snap"))
    return url_survival(caps.unionByName(dup))


@contract(
    oracle="""
        -- tag-union + flag-merge + host rollup, replayed in SQL.
        WITH urls AS (
          SELECT doc_id,
                 'https://s' || CAST(doc_id % 5 AS VARCHAR) ||
                   '.example/page/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        ), tagged AS (
          SELECT url, 1 AS _d, 0 AS _c FROM urls WHERE doc_id % 3 != 0
          UNION ALL
          SELECT url, 0 AS _d, 1 AS _c FROM urls WHERE doc_id % 2 = 0
        ), per_url AS (
          SELECT url, max(_d) AS _d, max(_c) AS _c FROM tagged GROUP BY 1
        ), agg AS (
          SELECT lower(regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
                 CAST(sum(_d) AS BIGINT) AS declared_n,
                 CAST(sum(_c) AS BIGINT) AS crawled_n,
                 CAST(sum(_d * _c) AS BIGINT) AS both_n
          FROM per_url GROUP BY 1
        )
        SELECT host, declared_n, crawled_n, both_n,
               declared_n - both_n AS declared_only_n,
               crawled_n - both_n AS crawled_only_n,
               CAST(coalesce(both_n * 1000000 //
                    nullif(declared_n, 0), 0) AS BIGINT) AS coverage_ppm
        FROM agg
    """,
    plan=(
        "coverage audit: tag-union + ONE groupBy(url) flag-merge (max partials before "
        "the exchange) + tiny host rollup — deliberately NOT a full-outer join (which "
        "would shuffle both sides and re-shuffle the result); zero Python, no join, no "
        "window"
    ),
    must=["HashAggregate", "Union"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct",
              "SortMergeJoin", "BroadcastHashJoin"],
)
def q_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage audit (ops/web.sitemap_coverage): hosts
    s0..s4 declare every doc_id%3!=0 url, the crawl fetched every even
    one — so both/declared-only/crawled-only all occur on every host.
    The oracle replays the tag-union + flag-merge + host rollup in SQL;
    hash match pins the host parse and the nullif-guarded ppm."""
    from html_parser_spark.ops.web import sitemap_coverage

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://s"), (d % 5).cast("string"),
                   F.lit(".example/page/"), d.cast("string"))
    declared = docs.filter(d % 3 != 0).select(url.alias("url"))
    crawled = docs.filter(d % 2 == 0).select(url.alias("url"))
    return sitemap_coverage(declared, crawled)


@contract(
    oracle="""
        -- distinct directed host edges (self-loops dropped), reversed
        -- self-join, per-host rollup with integral-divide ppm.
        WITH raw AS (
          SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) AS src,
                 'h' || CAST((doc_id + 1) % 10 AS VARCHAR) AS dst
          FROM documents
          UNION ALL
          SELECT 'h' || CAST(doc_id % 10 AS VARCHAR),
                 'h' || CAST((doc_id + 3) % 10 AS VARCHAR)
          FROM documents
          UNION ALL
          SELECT 'h' || CAST((doc_id + 1) % 10 AS VARCHAR),
                 'h' || CAST(doc_id % 10 AS VARCHAR)
          FROM documents WHERE doc_id % 10 < 5
          UNION ALL
          SELECT 'h' || CAST(doc_id % 10 AS VARCHAR),
                 'h' || CAST(doc_id % 10 AS VARCHAR)
          FROM documents WHERE doc_id % 7 = 0
        ), e AS (
          SELECT DISTINCT src, dst FROM raw WHERE src != dst
        ), j AS (
          SELECT a.src, CASE WHEN b.src IS NULL THEN 0 ELSE 1 END AS _back
          FROM e a LEFT JOIN e b ON a.src = b.dst AND a.dst = b.src
        )
        SELECT src AS host,
               CAST(count(*) AS BIGINT) AS out_n,
               CAST(sum(_back) AS BIGINT) AS reciprocated_n,
               CAST(sum(_back) * 1000000 // count(*) AS BIGINT)
                 AS reciprocity_ppm
        FROM j GROUP BY 1
    """,
    plan=(
        "link-exchange signal: ONE distinct over the edge pairs (map-side partials), "
        "ONE reversed-key self equi-join, ONE groupBy(src) rollup with integral-divide "
        "ppm; zero Python, no window, no cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_reciprocity(spark, sf_dir):
    """Link reciprocity (ops/linkgraph.reciprocity): ring hosts h0..h9 with
    +1 and +3 forward families, back-edges only below h5, and planted
    self-loops that must be dropped — out_n/reciprocated_n then differ
    per host (500000 / 666666 / 333333 / 0 ppm bands).  The oracle
    replays the distinct + reversed self-join + rollup — hash-exact."""
    from html_parser_spark.ops.linkgraph import reciprocity

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")

    def h(expr):
        return F.concat(F.lit("h"), expr.cast("string"))

    fwd = docs.select(h(d % 10).alias("src"), h((d + 1) % 10).alias("dst"))
    fwd2 = docs.select(h(d % 10).alias("src"), h((d + 3) % 10).alias("dst"))
    back = docs.filter(d % 10 < 5).select(
        h((d + 1) % 10).alias("src"), h(d % 10).alias("dst")
    )
    loops = docs.filter(d % 7 == 0).select(
        h(d % 10).alias("src"), h(d % 10).alias("dst")
    )
    edges = fwd.unionByName(fwd2).unionByName(back).unionByName(loops)
    return reciprocity(edges)


@contract(
    oracle="""
        -- identical key synthesis, identical (first char, length-band)
        -- blocking, triangle filter, exact Levenshtein <= 2.
        WITH keyed AS (
          SELECT doc_id AS _id,
                 'rec' || CAST(doc_id // 4 AS VARCHAR) ||
                   CASE doc_id % 4 WHEN 1 THEN 'a' WHEN 2 THEN 'ab'
                        WHEN 3 THEN 'zzzz' ELSE '' END AS _key
          FROM documents
        ), blk AS (
          SELECT _id, _key,
                 substr(_key, 1, 1) || '|' ||
                   CAST(length(_key) // 8 AS VARCHAR) AS _blk
          FROM keyed
        )
        SELECT a._id AS id_a, b._id AS id_b,
               CAST(levenshtein(a._key, b._key) AS INT) AS dist
        FROM blk a JOIN blk b ON a._blk = b._blk AND a._id < b._id
        WHERE levenshtein(a._key, b._key) <= 2
    """,
    plan=(
        "blocked edit distance: ONE distinct keyed projection, ONE self equi-join on "
        "the block key (AQE skew-splits hot blocks), triangle filter before the "
        "Levenshtein so each unordered pair scores once; zero Python, no window, no "
        "cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_fuzzy_pairs(spark, sf_dir):
    """Blocked edit-distance fuzzy matching (ops/dedup.edit_distance_pairs):
    quads of keys rec<k>{'',a,ab,zzzz} — within a quad the distances are
    1/2/1/4+, and the suffixes deliberately straddle the length-band
    blocking boundary so the oracle must replay the SAME blocking to
    hash-match (the recall heuristic is part of the pinned contract)."""
    from html_parser_spark.ops.dedup import edit_distance_pairs

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    suffix = (
        F.when(d % 4 == 1, "a")
        .when(d % 4 == 2, "ab")
        .when(d % 4 == 3, "zzzz")
        .otherwise("")
    )
    key = F.concat(F.lit("rec"), F.expr("doc_id div 4").cast("string"), suffix)
    return edit_distance_pairs(
        docs.select("doc_id", key.alias("title")), max_dist=2
    )


@contract(
    oracle="""
        -- identical text rebuild, identical RE2 url class + trailing
        -- punctuation trim + length floor.
        WITH src AS (
          SELECT doc_id,
                 text || ' See https://ref' ||
                   CAST(doc_id % 20 AS VARCHAR) || '.example/a/' ||
                   CAST(doc_id AS VARCHAR) || '. Also (http://mirror' ||
                   CAST(doc_id % 5 AS VARCHAR) || '.test/p).' AS text
          FROM documents
        ), ex AS (
          SELECT doc_id,
                 regexp_replace(
                   unnest(regexp_extract_all(text,
                     'https?://[^\\s<>"'')]+', 0)),
                   '[.,;:!?]+$', '') AS url
          FROM src
        )
        SELECT doc_id, url FROM ex WHERE length(url) > 8
    """,
    plan=(
        "plain-text url mining: ONE codegen regexp_extract_all + transform-trim "
        "projection + explode; zero shuffle, zero Python, no join, no window"
    ),
    must=["Generate"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "Exchange",
              "CartesianProduct"],
)
def q_text_outlinks(spark, sf_dir):
    """Plain-text URL mining (ops/html_meta.text_outlinks) for WET-style
    corpora: two urls per doc with trailing '.'/')' artifacts that the
    trim must remove; the oracle replays the identical RE2-compatible
    regexes on the identically rebuilt text — hash-exact."""
    from html_parser_spark.ops.html_meta import text_outlinks

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.lit(" See https://ref"), (d % 20).cast("string"),
        F.lit(".example/a/"), d.cast("string"),
        F.lit(". Also (http://mirror"), (d % 5).cast("string"),
        F.lit(".test/p)."),
    )
    return text_outlinks(docs.select("doc_id", text.alias("text")))


@contract(
    oracle="""
        -- per-source token totals, full-outer join against the demanded
        -- weights, planned tokens + epochs by integral divide.
        WITH avail AS (
          SELECT 'src' || CAST(doc_id % 4 AS VARCHAR) AS source,
                 CAST(sum(doc_id % 50 + 1) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1
        ), w(source, weight_ppm) AS (
          VALUES ('src0', 500000), ('src1', 300000),
                 ('src2', 150000), ('src9', 50000)
        ), j AS (
          SELECT coalesce(a.source, w.source) AS source,
                 CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                 CAST(coalesce(w.weight_ppm, 0) AS BIGINT) AS weight_ppm
          FROM avail a FULL OUTER JOIN w ON a.source = w.source
        ), p AS (
          SELECT source, n_tokens, weight_ppm,
                 CAST(2500000 * weight_ppm // 1000000 AS BIGINT)
                   AS planned_tokens
          FROM j
        )
        SELECT source, n_tokens, weight_ppm, planned_tokens,
               CAST(coalesce(planned_tokens * 1000000 //
                    nullif(n_tokens, 0), -1) AS BIGINT) AS epochs_ppm,
               coalesce(planned_tokens * 1000000 //
                        nullif(n_tokens, 0) > 1000000, false) AS repeated
        FROM p
    """,
    plan=(
        "epoch planner: ONE partial-agg groupBy over the corpus (#sources rows out), "
        "tiny full-outer join against the literal weight frame, integral-divide "
        "projections; zero Python, no window, nothing else touches the corpus"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct"],
)
def q_mixture_plan(spark, sf_dir):
    """Training-mixture epoch planner (ops/corpus.mixture_plan): sources
    src0..src3 with arithmetic token counts, weights demanding src0-2 plus
    a phantom src9 (absent from the corpus — must surface as a loud
    NULL-epochs row, not a crash), src3 present but unweighted.  The
    oracle replays the aggregate + full-outer join + integral divides."""
    from html_parser_spark.ops.corpus import mixture_plan

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    src = docs.select(
        F.concat(F.lit("src"), (d % 4).cast("string")).alias("lang"),
        ((d % 50) + 1).cast("long").alias("n_tokens"),
    )
    out = mixture_plan(
        src,
        {"src0": 500000, "src1": 300000, "src2": 150000, "src9": 50000},
        target_total_tokens=2500000,
    )
    # driver-canonicalizer safety: a NULL in a BIGINT column rides pandas as
    # float64 on the oracle side (400000000 vs 400000000.0 hash split) —
    # serialize the absent-source sentinel as -1 in BOTH engines
    return out.withColumn(
        "epochs_ppm", F.coalesce(F.col("epochs_ppm"), F.lit(-1).cast("long"))
    )


@contract(
    oracle="""
        -- rebuild original + reversed twin + appended mutant, then
        -- tokenize -> binary sort -> md5 -> group.
        WITH base AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
                 array_to_string(list_reverse(
                   list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> length(x) > 0)), ' ')
          FROM documents
          UNION ALL
          SELECT doc_id + 2000000, text || ' zzzmutant' FROM documents
        ), keyed AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(
                   list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                     '\\s+'),
                               x -> length(x) > 0)), ' ')) AS h
          FROM base
        )
        SELECT h, count(*) AS dup_count, min(doc_id) AS canonical_id
        FROM keyed GROUP BY h
    """,
    plan=(
        "multiset dedup: tokenize + binary array_sort + md5 is a pure-codegen "
        "projection (32-byte shuffle key, the heavy strings never shuffle), then ONE "
        "partial-agg groupBy; zero Python, no join, no window"
    ),
    must=["HashAggregate", "Union"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct",
              "SortMergeJoin"],
)
def q_reordered_dedup(spark, sf_dir):
    """Order-insensitive duplicate groups (ops/dedup.reordered_duplicates):
    each doc gets a word-REVERSED twin (must group, multiset identical)
    and a one-token-appended mutant (must NOT group).  The oracle rebuilds
    the same three variants and replays tokenize → binary sort → md5 in
    SQL — hash match pins the multiset-key semantics cross-engine."""
    from html_parser_spark.ops.dedup import reordered_duplicates

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    twin = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    mutant = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzmutant")).alias("text"),
    )
    allv = docs.select("doc_id", "text").unionByName(twin).unionByName(mutant)
    return reordered_duplicates(allv)


@contract(
    oracle="""
        -- closed-form expected regions/distances around pivot core0:
        -- ring SCC (hand-traced fwd/bwd hops), OUT chain, corpus-
        -- scaled IN fan (doc_id%10==3), island absent; -1 = unreached.
        SELECT node, region, CAST(fwd_dist AS BIGINT) AS fwd_dist,
               CAST(bwd_dist AS BIGINT) AS bwd_dist
        FROM (
          SELECT 'core0' AS node, 'SCC' AS region, 0 AS fwd_dist,
                 0 AS bwd_dist FROM documents WHERE doc_id = 0
          UNION ALL
          SELECT 'core1', 'SCC', 1, 2 FROM documents WHERE doc_id = 1
          UNION ALL
          SELECT 'core2', 'SCC', 2, 1 FROM documents WHERE doc_id = 2
          UNION ALL
          SELECT 'out0', 'OUT', 1, -1 FROM documents WHERE doc_id = 3
          UNION ALL
          SELECT 'out1', 'OUT', 2, -1 FROM documents WHERE doc_id = 4
          UNION ALL
          SELECT 'in' || CAST(doc_id AS VARCHAR), 'IN', -1, 1
          FROM documents WHERE doc_id % 10 = 3
        )
    """,
    plan=(
        "bowtie decomposition: two hop-bounded frontier BFS passes (per hop: "
        "frontier⋈edges equi-join + partial-agg distinct, lineage truncated — "
        "|frontier|×out-degree, never |hosts|×|edges|) + ONE full-outer join of the "
        "two reach sets; zero Python, no cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "CartesianProduct",
              "BroadcastNestedLoopJoin"],
    # hops=3 keeps the UNROLLED (checkpoint-free) plan within the
    # audit JVM's optimizer budget; the per-hop plan shape is
    # identical at any hop count, and production runs checkpoint
    plan_kwargs={"checkpoint": False, "max_hops": 3},
)
def q_bowtie(spark, sf_dir, checkpoint=True, max_hops=8):
    """Bowtie decomposition (ops/linkgraph.bowtie_profile, Broder 2000):
    3-ring SCC around the pivot, a 2-hop OUT chain, a corpus-scaled IN fan
    (one in-host per doc_id%10==3), and a disconnected island that must be
    ABSENT.  NULL dists serialize as -1 (BIGINT/pandas float64 hazard).
    The oracle states the expected regions/distances in closed form —
    the BFS core itself is oracle-replayed hop-by-hop in q_click_depth."""
    from html_parser_spark.ops.linkgraph import bowtie_profile

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")

    def lit_edge(k, s, t):
        return docs.filter(d == k).select(
            F.lit(s).alias("src"), F.lit(t).alias("dst")
        )

    fan = docs.filter(d % 10 == 3).select(
        F.concat(F.lit("in"), d.cast("string")).alias("src"),
        F.lit("core0").alias("dst"),
    )
    edges = (
        lit_edge(0, "core0", "core1")
        .unionByName(lit_edge(1, "core1", "core2"))
        .unionByName(lit_edge(2, "core2", "core0"))
        .unionByName(lit_edge(3, "core0", "out0"))
        .unionByName(lit_edge(4, "out0", "out1"))
        .unionByName(lit_edge(5, "isl0", "isl1"))
        .unionByName(fan)
    )
    out = bowtie_profile(edges, "core0", max_hops=max_hops, checkpoint=checkpoint)
    return out.select(
        "node",
        "region",
        F.coalesce(F.col("fwd_dist"), F.lit(-1)).cast("long").alias("fwd_dist"),
        F.coalesce(F.col("bwd_dist"), F.lit(-1)).cast("long").alias("bwd_dist"),
    )


@contract(
    oracle="""
        -- postings -> df cap -> pair join -> Jaccard bp, replayed.
        WITH urls AS (
          SELECT 'm0.example' AS host,
                 '/p' || CAST(doc_id % 30 AS VARCHAR) AS path
          FROM documents
          UNION ALL
          SELECT 'm1.example', '/p' || CAST(doc_id % 30 AS VARCHAR)
          FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'm2.example', '/q' || CAST(doc_id % 20 AS VARCHAR)
          FROM documents
          UNION ALL
          SELECT 'm3.example', '/p' || CAST(doc_id % 10 AS VARCHAR)
          FROM documents
          UNION ALL
          SELECT 'g' || CAST(doc_id % 150 AS VARCHAR) || '.example',
                 '/common'
          FROM documents
        ), postings AS (
          SELECT DISTINCT host, path FROM urls
        ), capped AS (
          SELECT p.host, p.path FROM postings p
          JOIN (SELECT path FROM postings
                GROUP BY path HAVING count(*) <= 100) ok
            ON p.path = ok.path
        ), sizes AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n
          FROM capped GROUP BY 1
        ), pairs AS (
          SELECT a.host AS host_a, b.host AS host_b,
                 CAST(count(*) AS BIGINT) AS shared_paths
          FROM capped a JOIN capped b
            ON a.path = b.path AND a.host < b.host
          GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT host_a, host_b, shared_paths,
               CAST(shared_paths * 10000 //
                    (sa.n + sb.n - shared_paths) AS BIGINT) AS jaccard_bp
        FROM pairs
        JOIN sizes sa ON host_a = sa.host
        JOIN sizes sb ON host_b = sb.host
    """,
    plan=(
        "mirror detection: distinct (path, host) postings, df-cap join dropping "
        "generic paths BEFORE the posting self-join (fan-out ≤ cap² per path — the "
        "quadratic term is bounded up front, same device as cocitation/containment), "
        "pair groupBy with map-side partials, size joins for the Jaccard; zero Python, "
        "no window, no cartesian product"
    ),
    must=["HashAggregate", "Join"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Window", "CartesianProduct",
              "BroadcastNestedLoopJoin"],
)
def q_mirrors(spark, sf_dir):
    """Mirror detection by shared paths (ops/web.mirror_candidates, Bharat
    & Broder 1999): m0 serves /p0../p29, m1 the even half, m2 a disjoint
    tree, and 150 g-hosts share /common which the df cap (100) must drop
    (leaving the g-hosts posting-less).  The oracle replays postings →
    cap → pair join → Jaccard bp in SQL — hash-exact."""
    from html_parser_spark.ops.web import mirror_candidates

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    u_m0 = docs.select(
        F.concat(F.lit("https://m0.example/p"), (d % 30).cast("string")).alias("url")
    )
    u_m1 = docs.filter(d % 2 == 0).select(
        F.concat(F.lit("https://m1.example/p"), (d % 30).cast("string")).alias("url")
    )
    u_m2 = docs.select(
        F.concat(F.lit("https://m2.example/q"), (d % 20).cast("string")).alias("url")
    )
    u_m3 = docs.select(
        F.concat(F.lit("https://m3.example/p"), (d % 10).cast("string")).alias("url")
    )
    u_g = docs.select(
        F.concat(F.lit("https://g"), (d % 150).cast("string"),
                 F.lit(".example/common")).alias("url")
    )
    pages = (
        u_m0.unionByName(u_m1).unionByName(u_m2)
        .unionByName(u_m3).unionByName(u_g)
    )
    return mirror_candidates(pages, df_cap=100, min_shared=2)


@contract(
    oracle="""
        -- identical text rebuild, token-level match replay: lowercase,
        -- split on runs of non-letters/non-digits, distinct, intersect with the sorted
        -- term list, first hit for explainability.
        WITH src AS (
          SELECT doc_id,
                 text ||
                 CASE WHEN doc_id % 7 = 0 THEN ' nastyTerm.' ELSE '' END ||
                 CASE WHEN doc_id % 13 = 0 THEN ' NASTYTERM2' ELSE '' END ||
                 CASE WHEN doc_id % 5 = 0 THEN ' embnastytermded'
                      ELSE '' END AS text
          FROM documents
        ), hits AS (
          SELECT doc_id,
                 list_sort(list_intersect(
                   list_distinct(list_filter(
                     regexp_split_to_array(lower(coalesce(text, '')),
                                           '[^\\p{L}\\p{N}]+'),
                     x -> length(x) > 0)),
                   ['nastyterm', 'nastyterm2'])) AS h
          FROM src
        )
        SELECT doc_id, len(h) > 0 AS blocked,
               coalesce(h[1], '') AS blocked_term
        FROM hits
    """,
    plan=(
        "C4 bad-word gate: the term list rides the plan as ONE array literal, tokenize "
        "+ distinct + intersect is a pure-codegen projection; zero shuffle, zero "
        "Python, no join, no window"
    ),
    must=["Project"],
    must_not=["ArrowEvalPython", "BatchEvalPython", "Exchange", "Window",
              "CartesianProduct"],
)
def q_term_blocklist(spark, sf_dir):
    """C4-style doc-level term blocklist (ops/text.term_blocklist_flags):
    planted terms with case + punctuation boundaries (doc_id%7 / %13) and
    an embedded-substring decoy (%5) that must NOT match — token-level
    word-boundary semantics are the pinned contract.  The oracle replays
    tokenize → distinct → intersect → sort in SQL — hash-exact."""
    from html_parser_spark.ops.text import term_blocklist_flags

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.lit(" nastyTerm.")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit(" NASTYTERM2")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" embnastytermded")).otherwise(F.lit("")),
    )
    return term_blocklist_flags(
        docs.select("doc_id", text.alias("text")),
        ["NastyTerm", "nastyterm2"],
    )
