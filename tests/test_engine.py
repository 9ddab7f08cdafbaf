"""V1→V2 engine + post-processing tests.

Unit cases replicate reference semantics on crafted inputs (file:line cited);
the end-to-end cases run the full chain on the reference's own committed
9,126-entry Tabasaran V1 input and pin the resulting counters, so any
semantic drift in the chain is caught.
"""

import json

import pytest

from html_parser_spark.engine import postprocess as pp
from html_parser_spark.engine.alphabets import (
    TABASARAN_ALPHABET,
    check_alphabetical_order,
    collation_index,
)
from html_parser_spark.engine.core import (
    convert_dictionary_v1_to_v2,
    create_definition_object,
    extract_tags_from_definition,
    merge_tags_with_definitions,
    remove_all_numerals_from_definition_start,
    split_to_example_object,
)
from html_parser_spark.engine.exports import (
    clean_from_tags,
    create_training_pairs,
    examples_to_parallel_corpus,
    expressions_to_training_pairs,
    is_see_also,
    remove_enumerations,
    split_comma_separated_lists,
)
from html_parser_spark.engine.flipper import flip_expressions, single_word_filter
from html_parser_spark.engine.mappers import (
    map_lez_rus_babakhanov,
    map_rus_lez_hajiyev,
    map_tab_rus,
)
from html_parser_spark.engine.quality import analyze_dictionary
from tests.conftest import fixture_path


# --- core (F5-F13) --------------------------------------------------------

def test_extract_tags_leading_run_only():
    # engine/index.ts:97-117 — only the LEADING run of tag words is harvested
    tags, d = extract_tags_from_definition("<бот.> <мед.> растение <бот.>")
    assert tags == ["<бот.>", "<мед.>"]
    assert d == "растение <бот.>"


def test_extract_tags_gt_dot_normalization():
    tags, d = extract_tags_from_definition("<сущ>. слово")
    assert tags == ["<сущ>."] or tags == ["<сущ>"]  # WITHOUT_END_DOTS variant
    assert d == "слово"


def test_create_definition_object_harvests_leading_tags():
    r = create_definition_object("<бот.> растение")
    assert r == {"value": "растение", "tags": ["<бот.>"]}


def test_create_definition_object_numeral_blocks_tag_harvest():
    # a leading numeral word means the tag run is no longer LEADING
    # (engine/index.ts:107 i===tags.length); the numeral itself is stripped
    # by the ^\d(.|)) replace afterwards
    r = create_definition_object("1. <бот.> растение")
    assert r == {"value": "<бот.> растение"}


def test_create_definition_object_keeps_original_when_all_tags():
    r = create_definition_object("<бот.>")
    assert r["tags"] == ["<бот.>"]
    assert r["value"] == ""


def test_split_to_example_object():
    ex = split_to_example_object("{чан алай} живой")
    assert ex == {"src": "чан алай", "trl": "живой", "raw": "{чан алай} живой"}
    assert split_to_example_object("{чан алай}") is None  # ends with }
    assert split_to_example_object("обычный текст") is None


def test_split_to_example_object_with_tags():
    ex = split_to_example_object("{пример} <перен.> перевод")
    assert ex["tags"] == ["<перен.>"]
    assert ex["trl"] == "перевод"


def test_remove_numerals_roman_and_arabic():
    d, merge = remove_all_numerals_from_definition_start(" II 1. значение")
    assert merge is True
    assert d == "значение"
    d, merge = remove_all_numerals_from_definition_start("2) значение", allow_paren=True)
    assert (d, merge) == ("значение", False)
    # without allow_paren the ') ' form is kept
    d, _ = remove_all_numerals_from_definition_start("2) значение", allow_paren=False)
    assert d == "2) значение"


def test_merge_tags_with_definitions():
    # rusLezHajiyev.ts:19-35
    assert merge_tags_with_definitions(["<филос.>", "1. абсолют", "2. полный"]) == [
        "<филос.> 1. абсолют",
        "2. полный",
    ]
    assert merge_tags_with_definitions(["tail-without-number"]) == ["tail-without-number"]


# --- mappers (M2-M6) ------------------------------------------------------

def _v1(spelling, definitions, inflection=None):
    e = {"spelling": spelling, "definitions": definitions}
    if inflection is not None:
        e["inflection"] = inflection
    return e


def test_mapper_babakhanov_bullet_block():
    expr, merge = map_lez_rus_babakhanov(
        _v1("АБА", ["♦ {аба алукIун} надеть абу; {аба галай} в абе"])
    )
    assert merge is False
    d = expr["details"][0]
    assert len(d["examples"]) == 2
    assert d["examples"][0]["src"] == "аба алукIун"


def test_mapper_roman_numeral_sets_merge():
    _, merge = map_lez_rus_babakhanov(_v1("А", ["II частица"]))
    assert merge is True


def test_mapper_semicolon_example_carry():
    expr, _ = map_lez_rus_babakhanov(
        _v1("X", ["слово; {пример} перевод; продолжение перевода"])
    )
    dd = expr["details"][0]["definitionDetails"][0]
    assert [d["value"] for d in dd["definitions"]] == ["слово"]
    assert len(dd["examples"]) == 1
    assert dd["examples"][0]["trl"] == "перевод; продолжение перевода"


def test_mapper_hajiyev_numbered_presplit():
    expr, _ = map_rus_lez_hajiyev(
        _v1("АБСОЛЮТНЫЙ", ["<филос.> 1. абсолют кьетIен 2. тамам, михьи"])
    )
    dds = expr["details"][0]["definitionDetails"]
    assert len(dds) == 2
    assert dds[0]["definitions"][0]["tags"] == ["<филос.>"]


def test_mapper_tab_tilde_expansion():
    expr, _ = map_tab_rus(_v1("АБА", ["дед; ~йин хал"]))
    dd = expr["details"][0]["definitionDetails"][0]
    values = [d["value"] for d in dd["definitions"]]
    assert "абайин хал" in values


def test_mapper_tab_inflection_extraction():
    expr, _ = map_tab_rus(_v1("АБАГЪ", ["<абгъи, абгъар> абагъ"]))
    det = expr["details"][0]
    assert det["inflection"] == "абгъи, абгъар"
    assert det["definitionDetails"][0]["definitions"][0]["value"] == "абагъ"


def test_convert_merges_homonyms():
    entries = [
        _v1("А", ["I первая буква"]),
        _v1("А", ["II частица"]),
        _v1("Б", ["вторая буква"]),
    ]
    v2 = convert_dictionary_v1_to_v2(entries, map_lez_rus_babakhanov)
    assert [e["spelling"] for e in v2] == ["А", "Б"]
    assert len(v2[0]["details"]) == 2


# --- postprocess (M7-M10) -------------------------------------------------

def test_candidates_to_tags_rejoin():
    # 01_tagsMappingAndGrouping.ts:33-67 — rejoin fires only when a fragment
    # does NOT match alone: 'д' is no tag, 'и.д' is → ['и.д']
    assert pp.candidates_to_tags(["и", "д"]) == ["и.д"]
    # 'ч' alone matches via the no-end-dot alternation → no rejoin, reverse order
    assert pp.candidates_to_tags(["ед", "ч"]) == ["ч", "ед"]
    assert pp.candidates_to_tags(["бот"]) == ["бот"]


def test_process_missed_tags():
    # harvest only works when the candidate piece reduces to tag fragments;
    # text before '<' rides along in the piece and blocks the match (ref
    # behavior: split('>') keeps the prefix in the same piece)
    tags, strings = pp.process_missed_tags("<бот.> растение")
    assert tags == ["бот"]
    assert strings == ["<бот.>"]
    tags2, _ = pp.process_missed_tags("слово <бот.> растение")
    assert tags2 == []


def test_tag_mapper_and_map_tags():
    assert pp.tag_mapper("<бот>") == "бот."
    assert pp.map_tags(["см.тж."], None) == ["см."]
    assert pp.map_tags(["послелог"], None) == ["посл."]
    assert pp.map_tags(None, "мед.") == ["мед."]


def test_move_common_tags():
    dd = {
        "definitions": [
            {"value": "a", "tags": ["бот.", "мед."]},
            {"value": "b", "tags": ["бот."]},
        ]
    }
    assert pp.move_common_tags(dd) is True
    assert dd["tags"] == ["бот."]
    assert "tags" not in dd["definitions"][1]
    assert dd["definitions"][0]["tags"] == ["мед."]


def test_extract_examples_moves_and_replicates_undefined_bug():
    expr = {
        "spelling": "X",
        "details": [
            {
                "definitionDetails": [
                    {"definitions": [{"value": "{пример} перевод"}, {"value": "обычное"}]}
                ]
            }
        ],
    }
    n = pp.extract_examples(expr)
    dd = expr["details"][0]["definitionDetails"][0]
    assert n == 1
    assert [d["value"] for d in dd["definitions"]] == ["обычное"]
    assert dd["examples"][0]["src"] == "пример"


def test_split_spelling_rules():
    assert pp.split_spelling_babakhanov("АБАСБИГИ(ЯР)") == ["АБАСБИГИ", "АБАСБИГИЯР"]
    assert pp.split_spelling_hajiyev("ЯМКА, ЯМОЧКА") == ["ЯМКА", "ЯМОЧКА"]
    assert pp.split_spelling_hajiyev("ОЙ! ОЙ-ОЙ-ОЙ!") == ["ОЙ!", "ОЙ-ОЙ-ОЙ!"]
    assert pp.split_spelling_tab("АБЦIУБ/АЦIУБ") == ["АБЦIУБ", "АЦIУБ"]
    assert pp.split_spelling_tab("ККА(Ш)УБ") == ["ККА(Ш)УБ"]  # no '/' → unchanged


# --- alphabets (M14) ------------------------------------------------------

def test_collation_digraph_priority():
    from html_parser_spark.engine.alphabets import LEZGI_ALPHABET

    assert collation_index("ГЪУЬЛ", LEZGI_ALPHABET)[1] == LEZGI_ALPHABET.index("ГЪ")
    assert collation_index("ГАДА", LEZGI_ALPHABET)[1] == LEZGI_ALPHABET.index("Г")
    assert collation_index("W", LEZGI_ALPHABET)[1] == -1


def test_check_alphabetical_order():
    errs = check_alphabetical_order(["АБА", "БАБ", "АХЪА", "QQQ"], TABASARAN_ALPHABET)
    assert [e["reason"] for e in errs] == ["out_of_order", "missing_letter"]


# --- exports (M12/M13) ----------------------------------------------------

def test_training_pair_chain():
    pairs = create_training_pairs("лезги чIал", "лезгинский язык")
    # JS ASCII \b makes removeEnumerations strip the latin I inside 'чIал'
    # (verified against the executed reference — see exports.py note)
    assert pairs == [("лезгинский язык", "лезги чал")]
    # см tag poisons the pair (F17)
    assert create_training_pairs("гаф", "<см.> слово") == []
    # Lezgi letters inside the Russian side → see-also filtered (F20)
    assert create_training_pairs("гаф", "гьуьл слово") == []


def test_clean_helpers():
    assert clean_from_tags("<бот.> растение") == "растение"
    assert clean_from_tags("<см.> слово") is None
    assert is_see_also("текст {пример}", False)
    assert is_see_also("хьел внутри", True)
    assert not is_see_also("обычный текст", True)
    assert remove_enumerations("1. слово") == "слово"
    assert split_comma_separated_lists("раз, два, три") == ["раз", "два", "три"]
    assert split_comma_separated_lists("Длинное предложение, продолжается.") == [
        "Длинное предложение, продолжается."
    ]


def test_single_word_filter():
    assert single_word_filter("слово")
    assert not single_word_filter("два слова")
    assert not single_word_filter("с-дефисом")
    assert not single_word_filter("{пример}")


# --- end-to-end on the committed reference input --------------------------

@pytest.fixture(scope="module")
def tab_chain():
    with open(
        fixture_path("v2migration", "input", "tab_rus_dict_hanmagomedov_shalbuzov.json"),
        encoding="utf-8",
    ) as f:
        v1 = json.load(f)
    pp.standardize_expression_tags.tag_definitions_count = 0
    pp.standardize_expression_tags.amount_of_definitions = 0
    pp.standardize_expression_tags.fixed_common_tags_count = 0
    v2 = convert_dictionary_v1_to_v2(v1["dictionary"], map_tab_rus)
    for e in v2:
        pp.standardize_expression_tags(e)
    extracted = sum(pp.extract_examples(e) for e in v2)
    v21 = [pp.split_spelling(e, pp.SPELLING_SPLITTERS["tab_rus"]) for e in v2]
    return v1, v2, v21, extracted


def test_tab_chain_pinned_counters(tab_chain):
    v1, v2, v21, extracted = tab_chain
    assert len(v1["dictionary"]) == 9126
    assert len(v2) == 8791  # homonym merge
    assert pp.standardize_expression_tags.amount_of_definitions == 14809
    assert pp.standardize_expression_tags.fixed_common_tags_count == 692
    assert extracted == 91
    multi = [e for e in v21 if len(e["spelling"]) > 1]
    assert len(multi) == 544
    assert multi[0]["spelling"] == ["АБХУБ", "АРХУБ"]


def test_tab_chain_quality_and_flipper(tab_chain):
    _, v2, v21, _ = tab_chain
    stats, reports = analyze_dictionary(v21)
    assert stats["amountOfExpressions"] == 8791
    assert stats["amountOfSpellings"] == 9347
    assert len(reports) == 464
    flipped, counters = flip_expressions(v2)
    assert counters["single_word_definitions"] == 4919
    assert counters["split_comma_separated_definitions"] == 6361
    assert counters["grouped_expressions"] == 7959


def test_tab_chain_exports(tab_chain):
    _, _, v21, _ = tab_chain
    corpus = examples_to_parallel_corpus(v21, "src", "trl")
    assert len(corpus) == 7012
    assert corpus[0] == {
        "lez": "дугъаз дустар гизаф а",
        "rus": "у него есть много друзей",
    }
    pairs = expressions_to_training_pairs(v21, is_src_lezgi=True)
    assert len(pairs) == 23055


def test_tab_v1_order_check(tab_chain):
    v1, _, _, _ = tab_chain
    errs = check_alphabetical_order(
        [e["spelling"] for e in v1["dictionary"]], TABASARAN_ALPHABET
    )
    assert len(errs) == 34


@pytest.fixture(scope="module")
def talibov_v1():
    with open(
        fixture_path("v2migration", "input", "lezgi_rus_dict_talibov_hajiyev.json"),
        encoding="utf-8",
    ) as f:
        return json.load(f)


def test_talibov_through_babakhanov_mapper(talibov_v1):
    """Second committed v1 input (11,021 entries) through the Babakhanov
    mapper chain — pinned counters for broader semantic coverage."""
    v2 = convert_dictionary_v1_to_v2(talibov_v1["dictionary"], map_lez_rus_babakhanov)
    assert len(talibov_v1["dictionary"]) == 11021
    assert len(v2) == 11005
    n_ex = sum(len(d.get("examples", [])) for e in v2 for d in e["details"])
    n_dd = sum(len(d["definitionDetails"]) for e in v2 for d in e["details"])
    assert (n_dd, n_ex) == (11334, 137)


def test_talibov_through_hajiyev_mapper(talibov_v1):
    v2 = convert_dictionary_v1_to_v2(talibov_v1["dictionary"], map_rus_lez_hajiyev)
    assert len(v2) == 11005
    n_ex = sum(len(d.get("examples", [])) for e in v2 for d in e["details"])
    assert n_ex == 1107


def test_split_candidates_m16(tab_chain):
    from html_parser_spark.engine.quality import split_candidates

    _, v2, _, _ = tab_chain
    rows, counters = split_candidates(v2)
    assert counters["amountOfExpressions"] == 8791
    assert counters["splitCandidatesCount"] == len(rows) > 0
    for _sp, v in rows[:50]:
        assert "," in v and "(" not in v and "{" not in v


def test_reference_executed_differential():
    """Run the ACTUAL reference TypeScript (type-stripped, node) on the
    committed v1 inputs and require byte-exact structural equality with the
    Python engine for all three mappers (tools/ref_differential.py)."""
    import shutil
    import subprocess
    import sys

    fixture_path("v2migration")
    if shutil.which("node") is None:
        pytest.skip("node not available")
    r = subprocess.run(
        [sys.executable, "tools/ref_differential.py"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert r.stdout.count("EXACT MATCH") == 13, r.stdout  # mappers + chains + flipper + exports + quality
