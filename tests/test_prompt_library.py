"""PromptLibrary tests mirroring the reference's template spec
(day_11/tests/test_prompt_engineering.py: formatting, missing-variable
errors, truncation via build_context)."""

from __future__ import annotations

import pytest

from python_vector_db___ai_spark.operators.rag import PromptLibrary


def test_default_template_renders(spark):
    lib = PromptLibrary()
    df = spark.createDataFrame([("ctx", "why?")], ["context", "question"])
    out = lib.render(df, "rag_default").first().prompt
    assert "ctx" in out and "why?" in out and "{" not in out


def test_add_and_render_custom_template(spark):
    lib = PromptLibrary()
    lib.add_template("summarize", "Summarize in {style} style:\n{context}")
    assert lib.variables("summarize") == ["style", "context"]
    df = spark.createDataFrame([("terse", "long text")], ["style", "context"])
    assert lib.render(df, "summarize").first().prompt == \
        "Summarize in terse style:\nlong text"


def test_duplicate_template_rejected():
    lib = PromptLibrary()
    with pytest.raises(ValueError):
        lib.add_template("rag_default", "x")


def test_missing_variable_errors(spark):
    lib = PromptLibrary()
    lib.add_template("needs_two", "{a} and {b}")
    df = spark.createDataFrame([("only-a",)], ["a"])
    with pytest.raises(ValueError, match="missing columns.*b"):
        lib.render(df, "needs_two")


def test_percent_in_template_is_literal(spark):
    lib = PromptLibrary()
    lib.add_template("pct", "100% sure about {x}")
    df = spark.createDataFrame([("this",)], ["x"])
    assert lib.render(df, "pct").first().prompt == "100% sure about this"


def test_driver_priority_window_covers_unproven_entries():
    """Registry ordering invariant (derived from the committed
    correctness artifacts by ``plans.queries.gate_order``): the gate
    samples the first 50 registry entries, so (a) DRIVER_PRIORITY must
    be exactly 50 known names with no duplicates, (b) the dict must
    lead with them, and (c) nothing past slot 50 may lack a green row
    in the PREVIOUS round's correctness artifact (those slots are the
    only ones the driver will NOT re-check this round) — this keeps
    every entry's driver evidence at most one round old."""
    import json
    from pathlib import Path

    from python_vector_db___ai_spark.plans.queries import (
        DRIVER_PRIORITY,
        all_queries,
    )

    qs = list(all_queries())
    assert len(DRIVER_PRIORITY) == 50
    assert len(set(DRIVER_PRIORITY)) == 50
    assert qs[:50] == DRIVER_PRIORITY
    root = Path(__file__).resolve().parent.parent
    # The NEWEST committed correctness artifact is the previous round
    # (hardcoding one round number broke at the next rotation).
    prev_path = max(root.glob("CORRECTNESS_r*.json"),
                    key=lambda p: int(p.stem.split("_r")[1]))
    prev = set(json.loads(prev_path.read_text()))
    missing = [q for q in qs[50:] if q not in prev]
    assert missing == [], (
        f"tail entries without a green row in {prev_path.name}: {missing}")


def test_gate_order_oldest_evidence_first(tmp_path):
    """Never-checked entries lead, then entries by the round of their
    newest artifact row (numeric, oldest first); ties keep registry
    order; with no artifact the registry order stands."""
    import json

    from python_vector_db___ai_spark.plans.queries import (
        gate_order,
        newest_rounds,
    )

    (tmp_path / "CORRECTNESS_r9.json").write_text(
        json.dumps({"a": {}, "b": {}, "c": {}}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"b": {}, "d": {}}))
    newest = newest_rounds(tmp_path)
    assert newest == {"a": 9, "b": 10, "c": 9, "d": 10}
    names = ["d", "b", "c", "a", "e", "f"]
    assert gate_order(names, newest) == ["e", "f", "c", "a", "d", "b"]
    assert gate_order(names, newest_rounds(tmp_path / "none")) == names
