"""NL translator unit tests (no Spark needed — pure IR output)."""

from __future__ import annotations

import pytest

from g_data_pipeline_spark.ir import QueryIntent
from g_data_pipeline_spark.nl import parse_llm_response, rule_based_translate

COLS = ["age", "score", "province", "status"]
NUM = ["age", "score"]


def test_mean_with_named_column():
    sq = rule_based_translate("what is the average score?", COLS, NUM)
    assert sq.intent == QueryIntent.AGGREGATE
    assert sq.operations[0].type == "mean"
    assert sq.operations[0].column == "score"


def test_mean_falls_back_to_first_numeric():
    sq = rule_based_translate("show me the average", COLS, NUM)
    assert sq.operations[0].column == "age"


def test_grouped_mean_by_clause():
    sq = rule_based_translate("average age by province", COLS, NUM)
    op = sq.operations[0]
    assert (op.type, op.column, op.by) == ("mean", "age", "province")


def test_count_by_becomes_group_by_count():
    sq = rule_based_translate("count of people per province", COLS, NUM)
    assert sq.operations[0].type == "group_by_count"
    assert sq.operations[0].column == "province"


def test_filter_phrase_extraction():
    sq = rule_based_translate("sum of score where age > 30", COLS, NUM)
    types = [op.type for op in sq.operations]
    assert types == ["filter", "sum"]
    f = sq.operations[0]
    assert (f.column, f.operator, f.value) == ("age", ">", "30")


def test_filter_is_phrase_equality():
    sq = rule_based_translate("describe rows with status is active", COLS, NUM)
    assert sq.intent == QueryIntent.DESCRIBE
    f = sq.operations[0]
    assert (f.column, f.operator, f.value) == ("status", "=", "active")


def test_visualize_keyword():
    sq = rule_based_translate("plot the data", COLS, NUM)
    assert sq.intent == QueryIntent.VISUALIZE


def test_describe_fallback():
    sq = rule_based_translate("tell me about this dataset", COLS, NUM)
    assert sq.intent == QueryIntent.DESCRIBE


def test_llm_json_with_fences_and_prose():
    payload = """Sure! Here's the structured query you asked for:
    ```json
    {"intent": "aggregate",
     "operations": [{"type": "mean", "column": "score", "by": "province"}]}
    ```
    Let me know if you need anything else."""
    sq = parse_llm_response(payload, COLS)
    assert sq.operations[0].by == "province"


def test_llm_json_rejects_unknown_columns():
    with pytest.raises(ValueError):
        parse_llm_response(
            '{"intent": "aggregate", "operations": [{"type": "sum", "column": "nope"}]}',
            COLS,
        )


def test_llm_no_json_raises():
    with pytest.raises(ValueError):
        parse_llm_response("I could not generate a query.", COLS)


def test_history_resolves_followup_target():
    """'and the sum?' names no column; the most recent prior turn that did
    ('score') supplies the target instead of the first-numeric fallback."""
    sq = rule_based_translate(
        "and the sum?", COLS, NUM, history=["what is the average score?"]
    )
    assert sq.operations[0].type == "sum"
    assert sq.operations[0].column == "score"
    # without history the fallback is the first numeric column
    sq2 = rule_based_translate("and the sum?", COLS, NUM)
    assert sq2.operations[0].column == "age"


def test_history_most_recent_turn_wins():
    sq = rule_based_translate(
        "total?",
        COLS,
        NUM,
        history=["average age", "now the average score"],
    )
    assert sq.operations[0].column == "score"


def test_history_ignored_when_current_query_names_column():
    sq = rule_based_translate(
        "sum of age", COLS, NUM, history=["average score"]
    )
    assert sq.operations[0].column == "age"


def test_sort_phrase_translates_to_sort_intent():
    sq = rule_based_translate(
        "sort by total price", ["o_orderkey", "o_totalprice"], ["o_totalprice"]
    )
    assert sq.intent == QueryIntent.SORT
    assert sq.operations[0].type == "sort"
    assert sq.operations[0].column == "o_totalprice"
    assert sq.operations[0].ascending is False  # default: biggest first


def test_top_n_phrase_adds_limit():
    sq = rule_based_translate(
        "top 5 orders by total price", ["o_orderkey", "o_totalprice"], ["o_totalprice"]
    )
    assert sq.intent == QueryIntent.SORT
    types = [op.type for op in sq.operations]
    assert types == ["sort", "limit"]
    assert sq.operations[1].n == 5


def test_lowest_phrase_sorts_ascending():
    sq = rule_based_translate(
        "lowest price first", ["price"], ["price"]
    )
    assert sq.intent == QueryIntent.SORT
    assert sq.operations[0].ascending is True


def test_agg_verb_outranks_weak_sort_words():
    """'average revenue per order' is a mean, not a sort — noun uses of
    order/highest must not hijack aggregate questions (regression pinned
    from review)."""
    sq = rule_based_translate(
        "average revenue per order", ["order_id", "revenue"], ["revenue"]
    )
    assert sq.intent == QueryIntent.AGGREGATE
    assert sq.operations[0].type == "mean"
    sq2 = rule_based_translate(
        "how many orders have the highest priority",
        ["order_id", "priority"],
        [],
    )
    assert sq2.intent == QueryIntent.AGGREGATE


def test_explicit_sort_verb_outranks_agg_keyword():
    sq = rule_based_translate(
        "order by total price", ["o_totalprice"], ["o_totalprice"]
    )
    assert sq.intent == QueryIntent.SORT


def test_sort_without_target_falls_back_to_describe():
    # no named column and no numeric columns -> nothing to sort on
    sq = rule_based_translate("sort these somehow", ["name"], [])
    assert sq.intent == QueryIntent.DESCRIBE


def test_ir_to_json_is_canonical_and_inverts_from_json():
    from g_data_pipeline_spark.ir import StructuredQuery

    sq = rule_based_translate("top 3 score where age > 30", COLS, NUM)
    text = sq.to_json()
    assert StructuredQuery.from_json(text) == sq
    assert StructuredQuery.from_json(text).to_json() == text
    # the same query written differently gives the same key
    spelled = StructuredQuery.from_json(
        {
            "operations": [
                {"value": "30", "operator": ">", "column": "age", "type": "FILTER"},
                {"type": "sort", "column": "score", "ascending": False},
                {"n": 3, "column": "score", "type": "limit"},
            ],
            "intent": "SORT",
        }
    )
    assert spelled.to_json() == text
    assert " " not in text and text.index('"columns"') < text.index('"intent"')
