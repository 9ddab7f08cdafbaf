"""Gopher quality-rule battery (ops/gopher.py) — integer-exact flags."""

from pyspark.sql import functions as F

from html_parser_spark.ops.gopher import gopher_rules

GOOD = (
    "The quick brown fox jumps over the lazy dog and then runs off to "
    "be with the other foxes that have found a den in the woods where "
    "they sleep all day and hunt all night with great success and "
    "style while the moon watches over the quiet forest below them all"
)


def _run(spark, texts, **kw):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    return {r["doc_id"]: r.asDict() for r in gopher_rules(df, **kw).collect()}


def test_good_document_keeps(spark):
    r = _run(spark, [GOOD])[0]
    assert r["keep"] is True
    assert r["n_words"] == len(GOOD.split())
    assert all(v for k, v in r.items() if k.startswith("keep_"))


def test_word_count_bounds(spark):
    r = _run(spark, ["too short"], min_words=50)[0]
    assert r["keep_word_count"] is False and r["keep"] is False
    r2 = _run(spark, [GOOD], min_words=5, max_words=10)[0]
    assert r2["keep_word_count"] is False


def test_mean_word_length_bounds(spark):
    # 60 one-char words: mean 1 < 3
    r = _run(spark, [" ".join(["a"] * 60)], min_words=10)[0]
    assert r["keep_mean_len"] is False
    # 60 very long words: mean > 10
    r2 = _run(spark, [" ".join(["supercalifragilistic"] * 60)], min_words=10)[0]
    assert r2["keep_mean_len"] is False


def test_symbol_ratio(spark):
    hashy = GOOD + " " + "# # # # # # # # #" * 2
    r = _run(spark, [hashy])[0]
    assert r["keep_symbol_ratio"] is False
    # ellipsis counted both as '…' and '...'; boundary is exact integer math
    dots = " ".join(["ok"] * 30) + " ... … ... …"
    r2 = _run(spark, [dots], min_words=10)[0]
    # 4 symbols vs 34 words: 40 > 34 -> fail
    assert r2["keep_symbol_ratio"] is False


def test_bullet_and_ellipsis_lines(spark):
    bullets = "\n".join(f"• item {i} with words" for i in range(10))
    r = _run(spark, [bullets], min_words=10)[0]
    assert r["keep_bullets"] is False
    ell = "\n".join(f"line {i} trails off..." for i in range(10))
    r2 = _run(spark, [ell], min_words=10)[0]
    assert r2["keep_ellipsis_lines"] is False
    assert r2["n_lines"] == 10


def test_alpha_fraction_and_stopwords(spark):
    nums = " ".join(str(i) for i in range(60))
    r = _run(spark, [nums], min_words=10)[0]
    assert r["keep_alpha"] is False
    assert r["keep_stopwords"] is False  # no stop words at all
    one_stop = "the " + nums
    r2 = _run(spark, [one_stop], min_words=10)[0]
    assert r2["keep_stopwords"] is False  # needs >= 2 distinct
    two_stop = "the and " + nums
    r3 = _run(spark, [two_stop], min_words=10)[0]
    assert r3["keep_stopwords"] is True


def test_adversarial_battery(spark):
    """Realistic hard cases: pages that LOOK like rule triggers must keep,
    and true junk shapes must drop — a precision/recall floor pinned as
    fixtures rather than synthetic minimal strings."""
    tutorial_404 = (  # long tutorial ABOUT errors: mentions 404, few bullets
        "When a web server cannot find the resource the client asked for "
        "it responds with the status code 404 and the browser shows an "
        "error page to the user. In this tutorial we will learn how to "
        "configure a custom handler so that visitors who follow a stale "
        "link still see useful navigation. First open the configuration "
        "file and locate the error section. Then add a directive that "
        "points to your custom template. The template should explain that "
        "the page could not be found and offer a search box. Finally "
        "reload the server and test with a bogus address to confirm that "
        "the handler works as expected for every missing resource."
    )
    recipe_with_bullets = (  # prose page with a SHORT ingredient list: keep
        "This bread recipe has been in the family for three generations "
        "and it remains the one we bake for every holiday gathering.\n"
        "- flour\n- water\n- salt\n- yeast\n"
        "Mix the ingredients in a large bowl and let the dough rest "
        "overnight in a cool place so that the flavor can develop fully. "
        "In the morning shape the loaf and bake it on a hot stone until "
        "the crust turns deep brown and the kitchen smells of fresh bread "
        "which is the moment the whole house tends to wake up and gather."
    )
    listicle = "\n".join(  # junk: nearly every line bullet-started
        f"• item {i} best deal click now" for i in range(40)
    )
    hashtag_spam = (  # junk: symbol ratio (# per word) way over 0.1
        "win #prize #now #click #deal #free #offer #sale #hot #new #top "
    ) * 10
    teaser_page = "\n".join(  # junk: every line an ellipsis-truncated teaser
        f"the story number {i} continues beyond this point..." for i in range(20)
    )
    got = _run(
        spark,
        [tutorial_404, recipe_with_bullets, listicle, hashtag_spam, teaser_page],
    )
    assert got[0]["keep"] is True, "404 tutorial is a hard negative"
    assert got[1]["keep"] is True, "short bullet list inside prose keeps"
    assert got[2]["keep"] is False and got[2]["keep_bullets"] is False
    assert got[3]["keep"] is False and got[3]["keep_symbol_ratio"] is False
    assert got[4]["keep"] is False and got[4]["keep_ellipsis_lines"] is False


def test_pure_jvm_no_shuffle(spark):
    df = spark.createDataFrame([(1, GOOD)], ["doc_id", "text"])
    out = gopher_rules(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_curate_job_gopher_flag(spark, tmp_path, capsys):
    """--gopher tightens the curation funnel beyond the repetition gate."""
    import json

    import jobs.curate_job as cj

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    # synthetic vocab has no English stop words; graft some onto half the
    # docs so the battery keeps a nonempty, strictly smaller corpus
    docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" and that is the rest of it")),
        ).otherwise(F.col("text")).alias("text"),
        "lang",
    ).limit(60).write.parquet(src)
    outs = {}
    for flag, name in [([], "plain"), (["--gopher"], "gopher")]:
        out = str(tmp_path / name)
        cj.main(["--docs", src, "--output", out, "--min-tokens", "5", *flag])
        outs[name] = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert outs["plain"]["docs_in"] == outs["gopher"]["docs_in"] == 60
    # the battery only drops (stop-word rule bites on the unmodified half),
    # and keeps the stop-worded half
    assert 0 < outs["gopher"]["after_quality_filter"] < outs["plain"]["after_quality_filter"]
