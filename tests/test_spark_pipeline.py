"""Spark integration tests: extraction pipeline, dictionary chain, resume,
training-data ops (local[4], small inputs — semantics, not perf)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA, fixture_path

SF_DIR = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="module")
def tab_migrated(spark):
    from html_parser_spark.data.pages import fixture_pages_df
    from html_parser_spark.spark.dictionary import migrate_results
    from html_parser_spark.spark.pipeline import extract_pages

    fixture_path("tab-rus-25k", "dictionary")
    pages = fixture_pages_df(spark).filter(F.col("lang") == "tab").limit(30)
    mig = migrate_results(extract_pages(pages, num_partitions=8)).persist()
    mig.count()
    yield mig
    mig.unpersist()


def test_extraction_all_formats(spark):
    from html_parser_spark.data.pages import _FIXTURE_GROUPS, fixture_pages_df
    from html_parser_spark.spark.pipeline import extract_pages, quality_metrics

    for subdir, *_ in _FIXTURE_GROUPS:
        fixture_path(subdir)
    pages = fixture_pages_df(spark)
    # one page per format keeps the test fast
    sample = (
        pages.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "lang"
                ).orderBy("url")
            ),
        )
        .filter("rn <= 2")
        .drop("rn")
    )
    res = extract_pages(sample, num_partitions=8)
    rows = res.collect()
    assert len(rows) == 7  # 2 per lang, but lez-eng has a single page
    assert all(r.error is None for r in rows)
    fmts = {r.fmt for r in rows}
    assert fmts == {"A", "B", "C", "D"}
    m = quality_metrics(res).collect()[0]
    assert m["errors"] == 0 and m["docs"] == 7


def test_synthetic_pages_roundtrip(spark):
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(50)
    res = extract_pages(pages).collect()
    assert all(r.fmt == "A" and r.n_entries == 1 and r.error is None for r in res)
    # spelling is the DOC<id> headword
    assert all(r.entries[0].spelling.startswith("DOC") for r in res)


def test_migrate_entries_shapes(tab_migrated):
    row = tab_migrated.select(F.size("entries").alias("v1"), F.size("entries_v21").alias("v21")).agg(
        F.sum("v1").alias("v1"), F.sum("v21").alias("v21")
    ).collect()[0]
    assert row["v1"] > 0
    # homonym merge can only reduce the count
    assert 0 < row["v21"] <= row["v1"]


def test_flipper_groupby(tab_migrated):
    from html_parser_spark.spark.dictionary import flip_dictionary_df

    flipped = flip_dictionary_df(tab_migrated)
    rows = flipped.collect()
    assert len(rows) > 100
    assert all(" " not in r.flipped_spelling for r in rows)
    merged = [r for r in rows if r.n_sources > 1]
    assert merged  # homonym merge happened
    assert all(len(r.details) >= r.n_sources for r in merged)


def test_exports_df(tab_migrated):
    from html_parser_spark.spark.dictionary import parallel_corpus_df, training_rows_df

    corpus = parallel_corpus_df(tab_migrated).collect()
    assert len(corpus) > 100
    assert all(r.lez and r.rus for r in corpus)
    rows = training_rows_df(tab_migrated).limit(5).collect()
    assert all('"role":"user"' in r.jsonl for r in rows)


def test_order_violations_window(spark):
    from html_parser_spark.engine.alphabets import LEZGI_ALPHABET
    from html_parser_spark.spark.dictionary import order_violations_df

    df = spark.createDataFrame(
        [(0, "АБА"), (1, "БАБ"), (2, "АХЪА"), (3, "QQQ")], "seq int, spelling string"
    )
    out = {
        r.spelling: r.reason
        for r in order_violations_df(df, LEZGI_ALPHABET, partition_col=None).collect()
    }
    assert out == {"АХЪА": "out_of_order", "QQQ": "missing_letter"}
    # corpus-scale default: partitioned window, per-dictionary lag
    df2 = spark.createDataFrame(
        [("d1", 0, "АБА"), ("d1", 1, "АХЪА"), ("d2", 0, "БАБ"), ("d2", 1, "АБА")],
        "dictionary_id string, seq int, spelling string",
    )
    out2 = {
        (r.dictionary_id, r.spelling): r.reason
        for r in order_violations_df(df2, LEZGI_ALPHABET).collect()
    }
    assert out2 == {("d2", "АБА"): "out_of_order"}
    # missing partition column must be a loud error, not a global sort
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition column"):
        order_violations_df(df, LEZGI_ALPHABET)


def test_checkpoint_resume(spark, tmp_path):
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.checkpoint import CheckpointedExtraction

    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(40).persist()
    ck = CheckpointedExtraction(spark, str(tmp_path / "results"))
    m1 = ck.run(pages.limit(25), num_partitions=4)  # simulate partial first run
    assert m1["docs"] == 25
    m2 = ck.run(pages, num_partitions=4)  # resume completes the rest
    assert m2["docs"] == 15
    assert ck.results().count() == 40
    assert ck.results().select("url").distinct().count() == 40
    m3 = ck.run(pages, num_partitions=4)  # idempotent re-run
    assert m3["docs"] == 0
    lineage = ck.lineage()
    assert lineage.agg(F.sum("url_count")).collect()[0][0] == 40
    # the resume anti-join (the MERGE NOT-MATCHED analog) must broadcast the
    # small done-set instead of shuffling the full pages table: assert on the
    # optimized plan of exactly the join CheckpointedExtraction.run builds
    done = ck.done_urls()
    plan = (
        pages.join(done, on="url", how="left_anti")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pages.unpersist()


def test_dedup_ops(spark):
    from html_parser_spark.ops.dedup import (
        exact_duplicates,
        lsh_near_duplicates,
        minhash_signature,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    sigs = minhash_signature(docs, num_hashes=4).collect()
    assert all(len(r.minhash) == 4 for r in sigs)
    dup = exact_duplicates(docs).collect()
    assert sum(r.dup_count for r in dup) == 100
    pairs = lsh_near_duplicates(docs, num_hashes=4, bands=2).collect()
    assert all(r.doc_a < r.doc_b for r in pairs)


def test_dimension_tables(spark):
    from pyspark.sql import functions as F

    from html_parser_spark.data.dimensions import (
        alphabets_df,
        example_symbols_df,
        tags_df,
    )

    tags = tags_df(spark)
    assert tags.count() == 197
    # F4 as a real broadcast join: expand abbreviations through the dim table
    probe = spark.createDataFrame(
        [("бот.",), ("сущ.",), ("unknown.",)], "abbr string"
    )
    joined = probe.join(F.broadcast(tags), on="abbr", how="left").collect()
    got = {r.abbr: r.expansion for r in joined}
    assert got["бот."] == "ботаника"
    assert got["unknown."] is None
    alpha = alphabets_df(spark)
    assert alpha.filter("lang='lez'").count() == 42
    assert alpha.filter("lang='tab'").count() == 43
    assert alpha.filter("lang='rus'").count() == 30
    assert example_symbols_df(spark).count() == 19


def test_oversized_page_guard(spark):
    from html_parser_spark.data.pages import synthetic_pages_df
    from html_parser_spark.spark.pipeline import extract_pages

    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(20)
    res = extract_pages(pages, max_html_bytes=700).collect()
    assert len(res) == 20
    oversized = [r for r in res if r.fmt == "oversized"]
    parsed = [r for r in res if r.fmt == "A"]
    assert oversized and parsed
    assert all(r.error.startswith("oversized:") and r.n_entries == 0 for r in oversized)
    assert all(r.error is None and r.n_entries == 1 for r in parsed)


def test_iceberg_checkpoint_if_available(spark, tmp_path):
    """Real MERGE INTO resume — runs only where an Iceberg runtime jar is on
    the classpath (this sandbox has none: the test SKIPS rather than fakes;
    the parquet analog above carries the semantics coverage here)."""
    import pytest

    from html_parser_spark.spark.checkpoint import (
        IcebergCheckpointedExtraction,
        iceberg_available,
    )

    if not iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar in this environment")
    from html_parser_spark.data.pages import synthetic_pages_df

    spark.conf.set("spark.sql.catalog.ck", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ck.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ck.warehouse", str(tmp_path / "wh"))
    pages = synthetic_pages_df(spark, SF_DIR, paragraphs=1).limit(40).persist()
    ck = IcebergCheckpointedExtraction(spark, "ck.db.results")
    m1 = ck.run(pages.limit(25), num_partitions=4)
    assert m1["docs"] == 25 and m1["docs_new"] == 25
    m2 = ck.run(pages, num_partitions=4)
    assert m2["docs"] == 40  # table total after completing the remainder
    assert m2["docs_new"] == 15  # anti-join: only the remainder was parsed
    m3 = ck.run(pages, num_partitions=4)  # idempotent
    assert m3["docs"] == 40
    assert m3["docs_new"] == 0 and m3["snapshot"] == "noop"
    pages.unpersist()


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length >= k+w-1
    share at least one fingerprint; unrelated text shares ~none."""
    from html_parser_spark.ops.text import winnow_fingerprints

    shared = "the identical plagiarized passage lives right here"
    docs = spark.createDataFrame(
        [
            (0, f"intro words before {shared} and a unique tail zero"),
            (1, f"completely different opening {shared} with other ending"),
            (2, "nothing in common with either of the other documents at all"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[0] & by_doc[1], "shared passage must share a fingerprint"
    overlap_02 = len(by_doc[0] & by_doc[2]) / max(1, len(by_doc[0]))
    assert overlap_02 < 0.2, overlap_02


def test_components_from_pairs_chain_and_stars(spark):
    """Min-label propagation: a 9-hop chain needs multiple BSP rounds (labels
    move one hop per round), a star collapses in one; canonical = min id."""
    from html_parser_spark.ops.dedup import components_from_pairs

    chain = [(i, i + 1) for i in range(10, 19)]          # 10-11-...-19
    star = [(3, 7), (3, 8), (3, 9)]                      # hub 3
    pair = [(100, 101)]
    edges = spark.createDataFrame(
        chain + star + pair, "doc_a long, doc_b long"
    )
    rows = components_from_pairs(edges).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert {r.cluster_id for r in rows if 10 <= r.doc_id <= 19} == {10}
    assert {r.cluster_id for r in rows if r.doc_id in (3, 7, 8, 9)} == {3}
    assert by_doc[100].cluster_id == 100 and by_doc[101].cluster_id == 100
    assert by_doc[10].is_canonical == 1 and by_doc[19].is_canonical == 0
    assert by_doc[10].cluster_size == 10 and by_doc[3].cluster_size == 4
    assert len(rows) == 16  # only vertices that appear in some pair


# --- dictionary chain pinned over seeded in-repo entries --------------------
#
# The fixture-page chain above needs the reference checkout; this one builds
# its own parse results: lez, rus and tab docs whose definitions carry
# numbered senses, tags, ';'-carried and bulleted examples, '~' and comma
# lists, plus a NULL-entries, a NULL-lang and a NULL-element row.  Each
# output is pinned by the sha256 of its sorted JSON rows, so one changed
# byte anywhere in an output fails the test.

_CYR = "абвгдежзиклмнопрстуфхцчшэюя"


def _seeded_entries(seed: int = 12, docs_per_lang: int = 12):
    import random

    rnd = random.Random(seed)

    def word():
        return "".join(rnd.choice(_CYR) for _ in range(rnd.randint(3, 7)))

    templates = [
        lambda: f"1. {word()}; {{{word()} {word()}}} {word()} {word()}",
        lambda: f"♦ {{{word()} {word()}}} {word()}; {{{word()}}} {word()}",
        lambda: f"{{{word()}}} {word()} {word()}",
        lambda: f"сущ. {word()}",
        lambda: f"<перен.> {word()}, {word()}, {word()}",
        lambda: f"II {word()}",
        lambda: f"1) {word()} 2) {{~ {word()}}} {word()}",
        lambda: f"см. {word()}",
        lambda: f"{word()} (разг.); {{{word()}}} {word()}; {word()}",
        lambda: word(),
    ]
    rows = []
    for lang in ("lez", "rus", "tab"):
        heads = [word().upper() for _ in range(8)]
        for d in range(docs_per_lang):
            entries = []
            for _ in range(rnd.randint(2, 5)):
                defs = [rnd.choice(templates)() for _ in range(rnd.randint(1, 3))]
                infl = rnd.choice([None, word()])
                entries.append((rnd.choice(heads), infl, defs))
            rows.append((f"seed://{lang}/{d}", lang, entries))
    rows.append(("seed://null-entries", "tab", None))
    rows.append(("seed://null-lang", None, [("АБА", None, ["{аба} абу; кафтан"])]))
    rows.append(
        ("seed://null-element", "rus", [None, ("БАБ", None, [None, "1. отец"])])
    )
    return rows


def _rows_sha(df, sort_lists=()):
    import hashlib
    import json

    lines = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        for c in sort_lists:
            d[c] = sorted(d[c], key=lambda v: json.dumps(v, sort_keys=True, ensure_ascii=False))
        lines.append(json.dumps(d, sort_keys=True, ensure_ascii=False, default=str))
    return len(lines), hashlib.sha256("\n".join(sorted(lines)).encode("utf-8")).hexdigest()


_DICT_CHAIN_PINS = {
    "migrate_results": (
        39,
        "580ea616c194c71964adb089040afcc8a7ea8a9178f4fb15ec8d268af31c8105",
    ),
    "flip_dictionary_df": (
        194,
        "398805fe9591e6bfe0f5b20db27a09c9b3bdab9bac972eb28e8c7b2b6b286386",
    ),
    "parallel_corpus_df": (
        163,
        "2665898952ac8037f996383734f097314922adb0b7706e3638d81c34edcf4bab",
    ),
    "training_rows_df": (
        422,
        "877c95a5216c194b2a352fa8f18b4e0e87212ee71ccd115319fd0db28aeeb06c",
    ),
}


def test_dictionary_chain_pinned(spark):
    from html_parser_spark.spark.dictionary import (
        flip_dictionary_df,
        migrate_results,
        parallel_corpus_df,
        training_rows_df,
    )

    results = spark.createDataFrame(
        _seeded_entries(),
        "url string, lang string, "
        "entries array<struct<spelling:string,inflection:string,definitions:array<string>>>",
    )
    mig = migrate_results(results).persist()
    try:
        got = {
            "migrate_results": _rows_sha(mig),
            # collect_list order follows the shuffle: pin details as a multiset
            "flip_dictionary_df": _rows_sha(flip_dictionary_df(mig), sort_lists=["details"]),
            "parallel_corpus_df": _rows_sha(parallel_corpus_df(mig)),
            "training_rows_df": _rows_sha(training_rows_df(mig)),
        }
    finally:
        mig.unpersist()
    assert all(n > 0 for n, _ in got.values()), got
    assert got == _DICT_CHAIN_PINS
